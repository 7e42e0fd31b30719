"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exactness baseline (JVM-side arithmetic via
zip_with/aggregate — no Python); LSH-bucketed search is the scale path: at
100 TB you never rank the full corpus, you build a bucket-partitioned ANN
index ONCE and each query scans only its multi-probe bucket neighborhood
(Iceberg/parquet partition pruning does the rest).

The hyperplanes are md5-derived Rademacher (±1) sign vectors — sign random
projections (Charikar's SimHash family; ±1 entries are a standard valid
choice, cf. Achlioptas-style sparse projections). Being deterministic
functions of (seed, plane, dim) they are reproducible in ANY engine, which
gives the WHOLE approximate search path an exact cross-engine oracle
(bucket assignment, Hamming-ball probing, and final ranking all match
DuckDB bit-for-bit); dot products are evaluated as sequential left-to-right
float64 folds on every engine so the sign of the projection is identical.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# read.parquet of an ANN index sidecar, memoized per (path, session,
# directory mtime_ns) — the same warm-handle invariant as
# IndexHandle._rel: each read.parquet costs a driver listing + footer
# fetch (~60 ms) that repeated probes of an immutable index need not
# pay; a rebuild into the same directory bumps the mtime and invalidates.
_REL_CACHE: dict = {}


def _ann_rel(spark: SparkSession, path: str) -> DataFrame:
    key = (path, spark)
    try:
        mt = os.stat(path).st_mtime_ns
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"vector index at {os.path.dirname(path)!r} has no "
            f"{os.path.basename(path)} sidecar; rebuild it "
            "(build_ann_index / build_ivf_index)"
        ) from e
    hit = _REL_CACHE.get(key)
    if hit is not None and hit[0] == mt:
        return hit[1]
    df = spark.read.parquet(path)
    _REL_CACHE[key] = (mt, df)
    return df


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_scored(
    vecs: DataFrame, qvec, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, cos): raw (unrounded) cosine of every row against
    ``qvec``, as one Arrow map pass. The numpy kernel reproduces
    cosine_similarity_col's sequential left-to-right float64 folds
    column-wise (acc += X[:, d] * q_d — identical order and precision),
    so the doubles are bit-identical to the JVM expression it replaces
    (which evaluated planes x dim interpreted lambda calls per row);
    rounding stays in the JVM so HALF_UP semantics are untouched.
    Rows whose vector length differs from the query's yield NULL, like
    the zip_with fold."""
    import pandas as pd

    q = np.asarray(qvec, dtype=np.float64)
    nq = 0.0
    for x in q:  # sequential fold, like _norm
        nq += float(x) * float(x)
    nq = float(np.sqrt(nq))
    dim = q.size

    def kernel(batches):
        with np.errstate(divide="ignore", invalid="ignore"):
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs_s = pdf[vec_col]
                lens = np.fromiter(
                    (len(v) for v in vecs_s), np.int64, len(vecs_s)
                )
                ok = lens == dim
                out = pd.array([None] * len(pdf), dtype="Float64")
                if ok.any():
                    X = np.stack(
                        [np.asarray(v, dtype=np.float64) for v in vecs_s[ok]]
                    )
                    dot = np.zeros(X.shape[0], dtype=np.float64)
                    nv = np.zeros(X.shape[0], dtype=np.float64)
                    for d in range(dim):
                        dot += X[:, d] * q[d]
                        nv += X[:, d] * X[:, d]
                    cos = dot / (np.sqrt(nv) * nq)
                    out[np.flatnonzero(ok)] = cos
                yield pd.DataFrame(
                    {"vec_id": pdf[id_col], "cos": out}
                )

    idt = dict(vecs.dtypes)[id_col]
    return vecs.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(kernel, f"vec_id {idt}, cos double")


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against the row with ``query_vec_id``.

    Plan: pull the 1-row query vector, score every row in one Arrow map
    pass (_cosine_scored — bit-identical to the former JVM fold),
    TakeOrderedAndProject for the distributed top-k. One corpus scan,
    zero shuffles of the corpus.
    """
    qrow = (
        embeddings.where(F.col(id_col) == query_vec_id)
        .select(vec_col)
        .collect()
    )
    rest = embeddings.where(F.col(id_col) != query_vec_id)
    if not qrow:
        # no query row: the cross join with an empty broadcast side
        # produced zero rows — reproduce the empty result, same schema
        scored = rest.select(
            F.col(id_col).alias("vec_id"),
            F.lit(None).cast("double").alias("cos"),
        ).where(F.lit(False))
    elif qrow[0][0] is None:
        # NULL query vector: the fold yielded NULL for every row
        scored = rest.select(
            F.col(id_col).alias("vec_id"),
            F.lit(None).cast("double").alias("cos"),
        )
    else:
        scored = _cosine_scored(rest, list(qrow[0][0]), id_col, vec_col)
    return (
        scored.select(
            "vec_id", F.round(F.col("cos"), 4).alias("cos")
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def rademacher_hyperplanes(dim: int, planes: int, seed: int = 7) -> np.ndarray:
    """(planes, dim) matrix of ±1.0 — entry sign = high bit of the first
    hex digit of md5(f"{seed}|{plane}|{dim_idx}"). Deterministic in any
    engine; no RNG state."""
    H = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[0]
            H[p, d] = 1.0 if h in "89abcdef" else -1.0
    return H


def bucket_col(vec_col, H: np.ndarray):
    """LSH bucket as a pure JVM Column: bit p = sign of the sequential
    left-to-right float64 fold of Σ_d ±vec[d] (whole-stage codegen; the
    fold order makes the sign bit-identical across engines)."""
    bucket = F.lit(0).cast("long")
    for p in range(H.shape[0]):
        signs = F.array(*[F.lit(float(s)) for s in H[p]])
        dot = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0.0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "long"
        )
    return bucket


def _bucket_batch(X: np.ndarray, H: np.ndarray) -> np.ndarray:
    """Buckets for a (n, dim) float64 matrix — the EXACT sequential
    left-to-right float64 fold of bucket_col, vectorized across rows:
    acc += X[:, d] * s_d accumulates each row's dot in the same order
    and precision as the JVM fold, so the sign (and bucket) is
    bit-identical."""
    n = X.shape[0]
    bucket = np.zeros(n, dtype=np.int64)
    for p in range(H.shape[0]):
        acc = np.zeros(n, dtype=np.float64)
        for d in range(H.shape[1]):
            acc += X[:, d] * H[p, d]
        bucket |= (acc >= 0.0).astype(np.int64) << p
    return bucket


def lsh_signatures(
    embeddings: DataFrame,
    dim: int,
    planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, bucket): Rademacher-hyperplane LSH bucket per
    vector — one Arrow map pass (no shuffle). The per-row JVM
    higher-order-function fold this replaces was interpreted per element
    (planes x dim lambda evaluations per row); the numpy kernel does the
    same fold column-wise (_bucket_batch), bit-identical, at C speed.
    Vectors whose length differs from ``dim`` keep the JVM semantics:
    the zip_with fold yields a NULL dot for every plane, so the bucket
    is 0."""
    import pandas as pd

    H = rademacher_hyperplanes(dim, planes, seed)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col]
            lens = np.fromiter((len(v) for v in vecs), np.int64, len(vecs))
            bucket = np.zeros(len(pdf), dtype=np.int64)
            ok = lens == dim
            if ok.any():
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
                )
                bucket[ok] = _bucket_batch(X, H)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "embedding": vecs,
                    "bucket": bucket,
                }
            )

    dts = dict(embeddings.dtypes)
    return embeddings.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(
        kernel,
        f"vec_id {dts[id_col]}, embedding {dts[vec_col]}, bucket long",
    )


def build_ann_index(
    embeddings: DataFrame,
    out_dir: str,
    dim: int,
    planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize the ANN index ONCE: vectors + buckets, PARTITIONED BY
    bucket — the IVF-style layout where a query reads only its probe
    buckets' partitions (at 100 TB this is the difference between ANN and
    a full-corpus scan per query). Metadata (dim/planes/seed) rides along
    so queries reproduce the exact hyperplanes."""
    sigs = lsh_signatures(embeddings, dim, planes, seed, id_col, vec_col)
    sigs.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out_dir, "vectors.parquet")
    )
    meta = {"dim": dim, "planes": planes, "seed": seed}
    with open(os.path.join(out_dir, "ANN_META.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def _hamming_ball(bucket: int, planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of ``bucket``."""
    out = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        nxt = set()
        for b in frontier:
            for i in range(planes):
                nxt.add(b ^ (1 << i))
        out |= nxt
        frontier = nxt
    return sorted(out)


def _bucket_of(vec, H: np.ndarray) -> int:
    """Driver-side bucket of one vector — the SAME sequential left-to-right
    float64 fold as bucket_col, so the sign matches the JVM bit-for-bit."""
    b = 0
    for p in range(H.shape[0]):
        tot = 0.0
        for x, s in zip(vec, H[p]):
            tot += float(x) * s
        if tot >= 0.0:
            b |= 1 << p
    return b


def ann_topk(
    spark: SparkSession,
    ann_dir: str,
    query_vec,
    k: int = 10,
    probe_radius: int = 2,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k against a PERSISTED ANN index: compute the
    query's bucket driver-side (one tiny fold), expand the multi-probe
    Hamming ball, scan ONLY those bucket partitions (partition-pruned),
    rank JVM-side, TakeOrderedAndProject."""
    with open(os.path.join(ann_dir, "ANN_META.json")) as fh:
        meta = json.load(fh)
    H = rademacher_hyperplanes(meta["dim"], meta["planes"], meta["seed"])
    probes = _hamming_ball(_bucket_of(query_vec, H), meta["planes"], probe_radius)
    vecs = _ann_rel(spark, os.path.join(ann_dir, "vectors.parquet")).where(
        F.col("bucket").isin(probes)
    )
    if exclude_vec_id is not None:
        vecs = vecs.where(F.col("vec_id") != exclude_vec_id)
    return (
        _cosine_scored(
            vecs, [float(x) for x in query_vec], "vec_id", "embedding"
        )
        .select("vec_id", F.round(F.col("cos"), 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def banded_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, band): BANDED sign-LSH — ``bands`` independent buckets per
    vector, band b derived from its own slice of ``planes_per_band``
    hyperplanes (total planes = bands × planes_per_band).

    The MinHash-LSH banding trick applied to sign random projections:
    ``planes_per_band`` controls bucket granularity (2^r buckets per band
    — raise r with corpus size to bound per-bucket occupancy), while
    ``bands`` controls recall (a pair is a candidate if it agrees on ANY
    one band: P = 1-(1-p^r)^b, p = 1-θ/π) — the two knobs are independent,
    unlike a single all-planes bucket where shrinking buckets collapses
    recall. All JVM expressions, deterministic md5-Rademacher planes.
    """
    H = rademacher_hyperplanes(dim, bands * planes_per_band, seed)
    band_cols = []
    for bi in range(bands):
        sub = H[bi * planes_per_band : (bi + 1) * planes_per_band]
        band_cols.append(
            F.concat_ws(
                "#", F.lit(str(bi)), bucket_col(F.col(vec_col), sub).cast("string")
            )
        )
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.array(*band_cols)).alias("band"),
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cos): embedding-cosine near-duplicate pairs, a < b.

    The dedup shape, not the search shape: candidate pairs are generated
    ONLY within BANDED LSH buckets (banded_lsh_buckets — pairs must share
    at least one band), then verified with exact cosine ≥ threshold. The
    candidate join is band-equi, so at 100 TB the shuffle is by band
    bucket and per-bucket occupancy is controlled by ``planes_per_band``
    INDEPENDENTLY of recall (``bands``): raise planes_per_band as the
    corpus grows (r ≈ log2(n) keeps expected bucket size constant) without
    losing the high-cosine pairs a single deeper all-planes bucket would
    drop. All arithmetic JVM-side; deterministic hyperplanes give the
    whole path an exact cross-engine oracle.
    """
    banded = banded_lsh_buckets(
        embeddings, dim, bands, planes_per_band, seed, id_col, vec_col
    )
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .distinct()
    )
    ea = embeddings.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va")
    )
    eb = embeddings.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb")
    )
    return (
        cand.join(ea, "a")
        .join(eb, "b")
        .select(
            "a",
            "b",
            F.round(
                cosine_similarity_col(F.col("va"), F.col("vb")), 4
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def hybrid_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    k_each: int = 50,
    rrf_k: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_id, fused, bm25_rank, cos_rank): hybrid lexical+semantic
    retrieval — BM25 top-``k_each`` (the inverted index) and cosine
    top-``k_each`` (the embedding column, doc_id == vec_id) combined by
    reciprocal-rank fusion: fused = Σ_legs 1/(rrf_k + rank), the standard
    score-free fusion rule (Cormack et al. 2009; rrf_k=60 is the paper's
    constant). A doc absent from one leg simply contributes nothing for
    it; ranks are 1-based over (rounded score DESC, doc_id ASC) so the
    fusion is deterministic AND engine-reproducible (both legs' rounded
    scores are exactly reproducible in DuckDB — this whole operator has
    an exact SQL oracle).

    Scale shape: each leg is the engine's own top-k job (bounded output);
    the fusion joins two ≤ k_each-row relations — driver-tiny, one
    broadcast join, TakeOrderedAndProject for the final k.
    """
    from pyspark.sql import Window

    from katta_spark import query as ksq

    hits = ksq.search(
        spark, index_dir, query, k=k_each, score_dtype="float64"
    ).select("doc_id", F.round("score", 4).alias("s"))
    w_bm = Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
    bm = hits.select(
        "doc_id", F.row_number().over(w_bm).alias("bm25_rank")
    )
    cos = cosine_topk(embeddings, query_vec_id, k_each, id_col, vec_col)
    w_cos = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    ce = cos.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_cos).alias("cos_rank"),
    )
    fused = (
        bm.join(ce, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("cos_rank")), F.lit(0.0)),
                6,
            ).alias("fused"),
            "bm25_rank",
            "cos_rank",
        )
        .orderBy(F.col("fused").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return fused


def embedding_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    bands: int = 4,
    planes_per_band: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
) -> DataFrame:
    """(vec_id, canonical_id, is_dup): SemDeDup-shaped semantic dedup —
    canonical assignment over the TRANSITIVE CLOSURE of verified
    embedding-cosine near-dup pairs (embedding_near_dup_pairs: banded-LSH
    candidates, exact-cosine verify), components via the same min-label
    propagation engine as text near-dup (textops.min_label_components).
    Keep rule: min vec_id per component survives — deterministic, so a
    downstream `where(~is_dup)` is reproducible."""
    from katta_spark.textops import min_label_components

    pairs = embedding_near_dup_pairs(
        embeddings, threshold, dim, bands, planes_per_band, seed, id_col, vec_col
    ).select("a", "b")
    labels = min_label_components(
        embeddings.select(F.col(id_col).alias("doc_id")), pairs, max_iters
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dim: int = 64,
    planes: int = 6,
    probe_radius: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ann_dir: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k: rank only the query's multi-probe LSH
    bucket neighborhood (Hamming ball of ``probe_radius`` around the query
    bucket — standard multi-probe LSH).

    With ``ann_dir`` (the scale path) candidates come from the persisted
    bucket-partitioned index; otherwise signatures are computed on the fly
    (JVM expressions — fine for one-off jobs, wasteful for repeated
    queries: build_ann_index once instead).
    """
    spark = embeddings.sparkSession
    qrow = embeddings.where(F.col(id_col) == query_vec_id).select(vec_col).collect()
    if not qrow:
        return cosine_topk(embeddings, query_vec_id, k, id_col, vec_col)
    qvec = list(qrow[0][0])
    if ann_dir is not None:
        return ann_topk(
            spark, ann_dir, qvec, k, probe_radius, exclude_vec_id=query_vec_id
        )
    H = rademacher_hyperplanes(dim, planes, seed)
    probes = _hamming_ball(_bucket_of(qvec, H), planes, probe_radius)
    sigs = lsh_signatures(embeddings, dim, planes, seed, id_col, vec_col)
    cand = (
        sigs.where(F.col("bucket").isin(probes))
        .where(F.col("vec_id") != query_vec_id)
    )
    return (
        _cosine_scored(cand, [float(x) for x in qvec], "vec_id", "embedding")
        .select("vec_id", F.round(F.col("cos"), 4).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def mmr_rerank(
    spark: SparkSession,
    candidates: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cand_id_col: str = "doc_id",
) -> DataFrame:
    """Maximal Marginal Relevance diversity rerank (Carbonell & Goldstein
    1998) of a BOUNDED candidate set: greedily pick

        argmax_d  lam * cos(q, d) - (1 - lam) * max_{s in picked} cos(d, s)

    — the standard redundancy-removal step after retrieval (near-duplicate
    answers crowd any top-k over a deduplicated-imperfectly corpus).
    lam=1.0 reduces to pure relevance order; lam=0.0 to pure diversity.
    Ties break on the lower id (deterministic).

    ``candidates`` is a small relation of ids (e.g. search()/cosine_topk
    output — <= a few hundred rows by construction). Scale shape: the
    corpus-sized ``embeddings`` table is scanned ONCE with a broadcast
    semi-join on the candidate ids (no corpus shuffle); the greedy loop
    runs driver-side over the |candidates| x dim matrix — the same
    bounded client-merge budget as Katta's k·shards merge. The selection
    keeps a running max-similarity vector (O(n) per pick, no n x n
    matrix).

    Returns DataFrame(doc_id, rank, rel, mmr): rank is the pick order
    (1-based), rel the query cosine, mmr the objective value at pick
    time (rank 1 reports lam * rel).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    qrows = (
        embeddings.where(F.col(id_col) == query_vec_id)
        .select(vec_col)
        .collect()
    )
    if not qrows:
        raise ValueError(
            f"query vector id {query_vec_id} not found in embeddings"
        )
    qv = np.asarray(qrows[0][0], dtype=np.float64)
    qv /= max(float(np.linalg.norm(qv)), 1e-12)
    ids = candidates.select(
        F.col(cand_id_col).cast("long").alias(id_col)
    ).distinct()
    rows = (
        embeddings.join(F.broadcast(ids), id_col)
        .where(F.col(id_col) != query_vec_id)
        .select(id_col, vec_col)
        .collect()
    )
    schema = "doc_id long, rank int, rel double, mmr double"
    if not rows:
        return spark.createDataFrame([], schema)
    cand_ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.maximum(np.linalg.norm(E, axis=1), 1e-12)
    E = E / norms[:, None]
    # deterministic candidate order: id ASC (collect order is not)
    order = np.argsort(cand_ids)
    cand_ids, E = cand_ids[order], E[order]
    rel = E @ qv
    n = cand_ids.size
    picked: list[int] = []
    max_sim = np.zeros(n, dtype=np.float64)  # max cos to any picked doc
    alive = np.ones(n, dtype=bool)
    out = []
    for rank in range(1, min(k, n) + 1):
        obj = lam * rel - (1.0 - lam) * max_sim
        obj = np.where(alive, obj, -np.inf)
        # ids sorted ASC -> argmax returns the LOWEST id among ties
        i = int(np.argmax(obj))
        out.append(
            (int(cand_ids[i]), rank, float(rel[i]), float(obj[i]))
        )
        alive[i] = False
        picked.append(i)
        max_sim = np.maximum(max_sim, E @ E[i])
    return spark.createDataFrame(out, schema)

"""Banded sign-LSH for embedding near-dup: occupancy vs recall knobs.

The banding trick (MinHash-LSH style, applied to Charikar sign random
projections): ``planes_per_band`` bounds per-bucket occupancy — it can be
raised with corpus size — while ``bands`` keeps recall, because candidates
need agree on only ONE band. A single all-planes bucket couples the two:
shrinking buckets collapses recall.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from katta_spark.similarity import (
    banded_lsh_buckets,
    cosine_topk,
    embedding_near_dup_pairs,
)

DIM = 16


@pytest.fixture(scope="module")
def skewed_embeddings(spark):
    """400 vectors clustered around one dominant direction (directional
    skew — the adversarial case for LSH bucket balance) + 100 spread
    vectors + 20 planted near-dup pairs (cos > 0.995)."""
    rng = np.random.default_rng(7)
    dom = rng.normal(size=DIM)
    dom /= np.linalg.norm(dom)
    rows = []
    vid = 0
    for _ in range(400):  # skew cluster: dominant direction + small noise
        v = dom + 0.35 * rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    for _ in range(100):  # background
        v = rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    planted = []
    for _ in range(20):  # planted near-dups: tiny perturbation
        v = rng.normal(size=DIM)
        w = v + 0.01 * rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        planted.append((vid, vid + 1))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    df.count()
    return df, planted


def _max_band_occupancy(df, planes_per_band: int, bands: int = 4) -> int:
    occ = (
        banded_lsh_buckets(df, DIM, bands=bands, planes_per_band=planes_per_band)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    return int(occ["mx"])


def test_planes_per_band_bounds_occupancy(spark, skewed_embeddings):
    """Raising planes_per_band strictly shrinks the worst bucket on a
    direction-skewed corpus — the knob that must grow with corpus size."""
    df, _ = skewed_embeddings
    coarse = _max_band_occupancy(df, planes_per_band=2)
    fine = _max_band_occupancy(df, planes_per_band=8)
    assert fine < coarse, (fine, coarse)
    # and the fine buckets break the skew cluster well below its size
    assert fine < 400


def test_banding_keeps_recall(spark, skewed_embeddings):
    """Every planted near-dup pair (cos > 0.995) survives as a candidate
    and is returned by the verified pipeline, even at fine granularity
    (planes_per_band=8) — a single 32-plane bucket would lose pairs, the
    4x8 banding does not (P ≈ 1-(1-p^8)^4 ≈ 1 for p ≈ 0.999)."""
    df, planted = skewed_embeddings
    got = {
        (r.a, r.b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.98, dim=DIM, bands=4, planes_per_band=8
        ).collect()
    }
    missing = [p for p in planted if p not in got]
    assert not missing, f"banding lost planted near-dups: {missing}"


def test_pairs_are_verified_exact(spark, skewed_embeddings):
    """Every returned pair really has cosine >= threshold (no unverified
    LSH candidates leak through)."""
    df, _ = skewed_embeddings
    pairs = embedding_near_dup_pairs(
        df, threshold=0.9, dim=DIM, bands=4, planes_per_band=4
    ).collect()
    assert pairs
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in df.collect()}
    for r in pairs:
        va, vb = emb[r.a], emb[r.b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert round(cos, 4) >= 0.9 - 1e-9
        assert abs(round(cos, 4) - r.cos) < 2e-4


def test_embedding_dedup_transitive_closure(spark):
    """SemDeDup-shaped canonicalization: a chain a~b~c where cos(a,c) is
    BELOW threshold still collapses to one component (transitive closure),
    and every component's canonical matches a union-find oracle over the
    exact verified pairs."""
    from katta_spark.similarity import embedding_dedup, embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.normal(size=DIM)
    base /= np.linalg.norm(base)
    orth = rng.normal(size=DIM)
    orth -= orth @ base * base
    orth /= np.linalg.norm(orth)

    def rot(theta):
        return np.cos(theta) * base + np.sin(theta) * orth

    # chain at ~0.93 cos between neighbors, ~0.73 end-to-end (threshold .9)
    step = np.arccos(0.93)
    chain = [rot(i * step) for i in range(3)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(chain)]
    vid = 3
    for _ in range(40):  # background far from the chain
        v = rng.normal(size=DIM)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {
        r.vec_id: (r.canonical_id, r.is_dup)
        for r in embedding_dedup(
            df, threshold=0.9, dim=DIM, bands=4, planes_per_band=4
        ).collect()
    }
    assert len(out) == len(rows)  # every vector labeled
    assert out[0] == (0, False)
    assert out[1] == (0, True) and out[2] == (0, True)

    # union-find oracle over the exact verified pairs
    pairs = embedding_near_dup_pairs(
        df, threshold=0.9, dim=DIM, bands=4, planes_per_band=4
    ).collect()
    parent = {i: i for i in out}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for vid_, (canon, is_dup) in out.items():
        assert find(vid_) == canon
        assert is_dup == (canon != vid_)


def test_hybrid_search_rrf(spark, tmp_path):
    """Reciprocal-rank fusion: fused scores equal 1/(60+r) summed over the
    legs each doc appears in (computed independently from the two legs'
    own rankings), docs in both legs outrank same-rank singletons, and
    the result caps at k."""
    import katta_spark.build as ksb
    import katta_spark.query as ksq
    from katta_spark.similarity import hybrid_search

    rng = np.random.default_rng(5)
    texts = [
        "apple apple banana", "apple cherry", "banana cherry date",
        "apple banana", "date date date", "cherry apple apple",
        "banana", "apple date cherry banana",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    emb_rows = [
        (i, [float(x) for x in rng.normal(size=DIM)]) for i in range(len(texts))
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    d = str(tmp_path / "idx")
    ksb.build_index(spark, docs, d, num_shards=2, doc_id_col="doc_id")

    k_each = 5
    hits = ksq.search(spark, d, "apple banana", k=k_each, score_dtype="float64")
    bm_rank = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(hits.collect(), key=lambda r: (-round(r.score, 4), r.doc_id))
        )
    }
    from katta_spark.similarity import cosine_topk

    cos_rank = {
        r.vec_id: i + 1
        for i, r in enumerate(cosine_topk(emb, 0, k=k_each).collect())
    }
    want = {}
    for did in set(bm_rank) | set(cos_rank):
        f = 0.0
        if did in bm_rank:
            f += 1.0 / (60 + bm_rank[did])
        if did in cos_rank:
            f += 1.0 / (60 + cos_rank[did])
        want[did] = round(f, 6)

    out = hybrid_search(
        spark, d, "apple banana", emb, query_vec_id=0, k=4, k_each=k_each
    ).collect()
    assert len(out) == 4
    got = [(r.doc_id, r.fused) for r in out]
    expect = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == expect
    for r in out:
        assert (r.bm25_rank is None) == (r.doc_id not in bm_rank)
        assert (r.cos_rank is None) == (r.doc_id not in cos_rank)


def test_ann_exact_baseline_unchanged(spark, skewed_embeddings):
    """cosine_topk (the exact baseline) finds a planted near-dup as the
    top neighbor of its twin."""
    df, planted = skewed_embeddings
    a, b = planted[0]
    top = cosine_topk(df, query_vec_id=a, k=1).collect()[0]
    assert top.vec_id == b


def test_mmr_rerank(spark):
    """MMR (Carbonell & Goldstein 1998) over a bounded candidate set:
    lam=1 is pure relevance order; lam=0.5 defers a near-duplicate of an
    already-picked doc behind a more diverse one; determinism and the
    bounded-n cap hold."""
    from katta_spark.similarity import mmr_rerank

    # query 0 points at +x; doc 1 = near-copy of doc 2; doc 3 orthogonalish
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (1, [0.98, 0.20, 0.0, 0.0]),        # relevant
        (2, [0.97, 0.22, 0.01, 0.0]),       # near-dup of 1, next-relevant
        (3, [0.70, -0.70, 0.10, 0.0]),      # diverse, less relevant
        (4, [0.10, 0.05, 0.99, 0.0]),       # off-topic
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cands = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "doc_id long"
    )
    # pure relevance: order by cosine to the query
    lam1 = mmr_rerank(spark, cands, emb, 0, k=4, lam=1.0).collect()
    assert [r.doc_id for r in lam1] == [1, 2, 3, 4]
    assert all(
        lam1[i].rel >= lam1[i + 1].rel for i in range(len(lam1) - 1)
    )
    # diversity: after picking 1, its near-copy 2 is penalized below 3
    mmr = mmr_rerank(spark, cands, emb, 0, k=4, lam=0.5).collect()
    assert [r.doc_id for r in mmr][:2] == [1, 3]
    assert 2 in [r.doc_id for r in mmr]
    # rank column is the 1-based pick order; deterministic across runs
    assert [r.rank for r in mmr] == [1, 2, 3, 4]
    again = mmr_rerank(spark, cands, emb, 0, k=4, lam=0.5).collect()
    assert [(r.doc_id, r.rank) for r in again] == [
        (r.doc_id, r.rank) for r in mmr
    ]
    # k beyond the candidate count returns all candidates
    assert mmr_rerank(spark, cands, emb, 0, k=99, lam=0.5).count() == 4
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(spark, cands, emb, 0, lam=1.5)
    with pytest.raises(ValueError, match="not found"):
        mmr_rerank(spark, cands, emb, 777)


def test_ann_missing_sidecar_names_index(spark, tmp_path):
    """A vector index whose vectors.parquet sidecar is gone fails with an
    error naming the index directory and the sidecar, not a bare stat
    error."""
    import json
    import re

    from katta_spark.similarity import ann_topk

    d = tmp_path / "ann"
    d.mkdir()
    (d / "ANN_META.json").write_text(json.dumps({"dim": 4, "planes": 2, "seed": 7}))
    pattern = f"index at '{re.escape(str(d))}' has no vectors.parquet sidecar"
    with pytest.raises(FileNotFoundError, match=pattern):
        ann_topk(spark, str(d), [1.0, 0.0, 0.0, 0.0], k=1)

"""Correctness checks. Each returns a list of failure messages (empty when
the check passes), so the smoke test can feed them a wrong expected result
and see them trip."""

from __future__ import annotations

import os
import re

import numpy as np

_TOKEN = re.compile(r"[a-z0-9]+")


def rank_match(got, want, rel_tol: float = 1e-6) -> list[str]:
    """``got`` and ``want`` are ranked (doc_id, score) pairs: same docs in
    the same order, scores equal within ``rel_tol``."""
    gd, wd = [d for d, _ in got], [d for d, _ in want]
    if gd != wd:
        return [f"ranked doc ids differ: got {gd} want {wd}"]
    bad = [
        (d, g, w)
        for (d, g), (_, w) in zip(got, want)
        if abs(g - w) > rel_tol * max(abs(g), abs(w), 1e-30)
    ]
    return [f"scores differ (doc, got, want): {bad}"] if bad else []


def none_deleted(doc_ids, deleted: set[int]) -> list[str]:
    hit = sorted(set(doc_ids) & deleted)
    return [f"deleted ids returned: {hit}"] if hit else []


def count_equal(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: got {got} want {want}"]


def contains(doc_id: int, doc_ids) -> list[str]:
    ids = list(doc_ids)
    return [] if doc_id in ids else [f"doc {doc_id} not in results {ids}"]


def tokens(text: str) -> list[str]:
    """Lower-cased maximal [a-z0-9] runs — the analysis the index must
    preserve, written here independently of the engine."""
    return _TOKEN.findall((text or "").lower())


def text_equal(index_streams: dict[int, list[str]], texts: dict[int, str]) -> list[str]:
    """Per-turn text equality: the token stream rebuilt from the index's
    positional postings equals the tokenized input text."""
    return [
        f"doc {d}: index has {index_streams.get(d)} want {tokens(t)}"
        for d, t in texts.items()
        if index_streams.get(d, []) != tokens(t)
    ]


def index_token_streams(
    index_dir: str, doc_ids, num_shards: int
) -> dict[int, list[str]]:
    """Rebuild each doc's token stream from the postings on disk: decode
    the doc-id, tf and positions blobs of every term row of the docs'
    shards and order each doc's (position, term) pairs."""
    import pyarrow.parquet as pq

    from katta_spark.codec import (
        decode_positions_concat,
        decode_posting_lists_concat,
    )

    d = pq.read_table(os.path.join(index_dir, "dict.parquet"), columns=["th", "term"])
    th2term = dict(zip(d.column("th").to_pylist(), d.column("term").to_pylist()))
    want = np.array(sorted(set(doc_ids)), dtype=np.int64)
    out: dict[int, list] = {int(x): [] for x in want}
    for shard in sorted({int(x) % num_shards for x in want}):
        t = pq.read_table(
            os.path.join(index_dir, "postings.parquet", f"shard_id={shard}"),
            columns=["th", "doc_ids", "tfs", "doclens", "positions"],
        )
        ths = t.column("th").to_pylist()
        rows = [i for i, th in enumerate(ths) if th in th2term]
        col = {c: t.column(c).to_pylist() for c in ("doc_ids", "tfs", "doclens", "positions")}
        docs, tfs, _, cnt = decode_posting_lists_concat(
            [col["doc_ids"][i] for i in rows],
            [col["tfs"][i] for i in rows],
            [col["doclens"][i] for i in rows],
        )
        pos = decode_positions_concat([col["positions"][i] for i in rows], tfs)
        term_of_posting = np.repeat(np.array([th2term[ths[i]] for i in rows], dtype=object), cnt)
        owner = np.repeat(np.arange(docs.size), tfs)
        sel = np.isin(docs[owner], want)
        for o, p in zip(owner[sel], pos[sel]):
            out[int(docs[o])].append((int(p), term_of_posting[o]))
    return {doc: [term for _, term in sorted(v)] for doc, v in out.items()}

"""Slow, obviously-correct Python BM25 oracle (SURVEY.md §4 end note).

The rank-identity contract (north_rule) is checked against this reference
implementation: same tokenizer, float64, per-doc term contributions summed
in sorted-term order for deterministic accumulation.
"""

from __future__ import annotations

import math
from collections import Counter

K1, B = 1.2, 0.75


def tokenize_ws(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t]


def bm25_oracle(
    docs: dict[int, list[str]], query_terms: list[str], k1: float = K1, b: float = B
) -> dict[int, float]:
    """doc_id -> BM25 score for docs containing >=1 query term."""
    n = len(docs)
    dl = {d: len(toks) for d, toks in docs.items()}
    avgdl = sum(dl.values()) / n if n else 0.0
    tfs = {d: Counter(toks) for d, toks in docs.items()}
    df = Counter()
    for d, c in tfs.items():
        for t in set(c):
            df[t] += 1
    scores: dict[int, float] = {}
    for d, c in tfs.items():
        s = 0.0
        for t in sorted(set(query_terms)):
            tf = c.get(t, 0)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl[d] / avgdl))
            s += idf * norm
        if s > 0.0:
            scores[d] = s
    return scores


def topk_oracle(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:k]


def segment_topk_exhaustive(
    term_rows: dict[str, dict],
    weights: dict[str, float],
    k: int,
    round_to: int | None = None,
    docs: set[int] | None = None,
) -> list[tuple[int, float]]:
    """Per-segment oracle for the index scorer: decode every term's posting
    row with the per-term reference decoder, accumulate weight * norm per
    doc, top-k.

    ``docs`` restricts scoring to a candidate set, every candidate scoring
    at least 0.0. The k-cut ranks on (ROUNDED score desc, doc_id asc) — the
    exact key the global merge uses — so a doc cut here by a sub-ulp raw
    margin cannot have tied after rounding and won on doc_id globally.
    """
    import heapq

    from elasticsearch_batch_percolator_spark.index.codec import decode_postings
    from elasticsearch_batch_percolator_spark.operators.dsl_index import _round_half_up

    acc: dict[int, float] = dict.fromkeys(docs, 0.0) if docs is not None else {}
    for term, row in term_rows.items():
        doc_ids, _, norms = decode_postings(row)
        for d, nr in zip(doc_ids.tolist(), (weights[term] * norms).tolist()):
            if docs is None or d in docs:
                acc[d] = acc.get(d, 0.0) + nr
    return heapq.nsmallest(
        k, acc.items(), key=lambda kv: (-_round_half_up(kv[1], round_to), kv[0])
    )

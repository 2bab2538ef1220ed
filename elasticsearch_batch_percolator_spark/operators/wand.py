"""Top-k BM25 over the compressed index for batches of term-list queries.

A front end of the index query engine (operators/dsl_index.py): each
query becomes one spec — a single gate group of its terms and one scoring
occurrence per term — and the engine's per-segment pass decodes each term
once per segment, scores every query with one vectorized accumulation and
merges the segments' local top-k in one window, the exact merge the
reference does across shards (TransportBatchPercolateAction.mergeResults:
94-143).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.query_plan import Wildcard
from .dsl_index import (
    _literal_terms,
    _lookup,
    _manifest,
    _run,
    _Spec,
    _term_plan,
    _transform,
)


def topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = 10,
    round_to: int | None = 4,
    boosts: dict[str, dict[str, float]] | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score_r, score) for a batch of term queries.

    Query terms may be Lucene wildcards (``*``/``?``): each pattern
    expands against the index term dictionary and the query scores as
    BM25 over the UNION of its literal and expanded terms (Lucene's
    scoring-boolean MultiTermQuery rewrite; a pattern-bearing query's term
    multiset dedups, so a term matched both literally and by a pattern
    scores once).

    A repeated LITERAL term in a pattern-free query scores once per
    occurrence (query term frequency): Lucene's BooleanQuery sums every
    clause, and the join scorer (``Engine.score`` over per-occurrence
    query rows) does the same, so ``["a", "a", "b"]`` weights ``a``
    twice.

    ``boosts``: optional per-query per-term multiplicative weight
    (Lucene per-clause boost): contribution = boost * qtf * idf * norm.
    Boost keys are LITERAL terms — a wildcard pattern's expanded terms
    score unboosted.

    One dictionary scan finds every term's df and every pattern's
    expansion, one postings scan covers all queries' terms (IN-list
    pushdown); each segment scores every query locally; global top-k is a
    window over n_segments*k survivors.
    """
    n_docs = _manifest(index_dir).n_docs
    plans = {qid: [_term_plan(t) for t in ts] for qid, ts in queries.items()}
    exp, dfs = _lookup(spark, index_dir, [p for ps in plans.values() for p in ps])
    specs = {}
    for qid, ps in plans.items():
        terms = list(queries[qid])
        if any(isinstance(p, Wildcard) for p in ps):
            lits: set = set()
            for p in ps:
                _literal_terms(_transform(p, exp), lits)
            terms = sorted(lits)
        bq = (boosts or {}).get(qid) or {}
        specs[qid] = _Spec([sorted(set(terms))], [(t, float(bq.get(t, 1.0))) for t in terms])
    return _run(spark, index_dir, n_docs, specs, dfs, k, round_to)

"""Seeded inputs: fresh document batches and query sets.

Document content comes from the package's synthetic corpus generator,
which is a pure function of the doc id, so a batch is fresh exactly when
its id range is. ``IdRanges`` hands out ranges that never overlap within a
run, and the seed picks where they start, so two seeds see different text
and one seed always sees the same.

The registered queries and the index query sets are drawn from
``QUERY_SEED``, not the run seed: a few dense queries on the hottest
terms carry much of a batch's match volume, so a per-seed query set made
a run's cost depend on its seed. The run seed still picks the documents,
the registry churn and the spot-check samples.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from elasticsearch_batch_percolator_spark.corpus import _full_vocab, _gen_rows

# seeds 1..99 are for measurement; this one is kept back for holdout
# checks of a performance claim (never used while tuning a change)
HOLDOUT_SEED = 7919
QUERY_SEED = 0
SELECTIVE_VOCAB = 10_000
INDEX_VOCAB = 3_000
_TOKEN = re.compile(r"[a-z0-9_]+")


class IdRanges:
    """Disjoint doc-id ranges; the seed offsets the whole sequence."""

    def __init__(self, seed: int):
        self.next_id = (seed % 100_000) * 10_000_000

    def take(self, n: int) -> int:
        start, self.next_id = self.next_id, self.next_id + n
        return start


def docs_df(
    spark: SparkSession,
    start: int,
    n: int,
    vocab_size: int | None,
    partitions: int,
    marker: str | None = None,
) -> DataFrame:
    """(doc_id, content) for ids [start, start+n). ``marker`` appends a
    token found nowhere else to doc ``start``, so a query can prove the
    document is visible."""

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            pdf = _gen_rows(ids, vocab_size)[["doc_id", "content"]]
            if marker is not None:
                pdf.loc[pdf["doc_id"] == start, "content"] += " " + marker
            yield pdf

    return spark.range(start, start + n, numPartitions=partitions).mapInPandas(
        gen, "doc_id long, content string"
    )


def doc_tokens(ids: list[int], vocab_size: int | None) -> dict[int, list[str]]:
    """Driver-side tokens of the given docs (the tokenize_code contract:
    lowercase [a-z0-9_]+ runs), for spot checks against the evaluator."""
    pdf: pd.DataFrame = _gen_rows(np.asarray(ids, dtype=np.int64), vocab_size)
    return {int(d): _TOKEN.findall(c.lower()) for d, c in zip(pdf["doc_id"], pdf["content"])}


def selective_queries(rng: random.Random, n: int) -> list[tuple[str, dict]]:
    """The reference-scale shape (bench_percolate_225k.py): 60% 3-5-term
    MUST, 20% phrase, 10% must_not, 10% wildcard_phrase. Terms come from
    Zipf ranks 100-1500 of a 10k vocabulary, so at a few thousand queries
    the cost model keeps every query on the Python verify lane, the lane a
    225k-query registry of tail terms takes."""
    pool = list(_full_vocab(SELECTIVE_VOCAB)[100:1500])
    rows = []
    for i in range(n):
        kind = i % 10
        if kind < 6:
            terms = rng.sample(pool, rng.randint(3, 5))
            q = {"bool": {"must": [{"term": {"content": t}} for t in terms]}}
        elif kind < 8:
            q = {"phrase": {"field": "content", "terms": rng.sample(pool, 2)}}
        elif kind < 9:
            t = rng.sample(pool, 4)
            q = {"bool": {"must": [{"term": {"content": x}} for x in t[:3]],
                          "must_not": [{"term": {"content": t[3]}}]}}
        else:
            t = rng.sample(pool, 2)
            q = {"wildcard_phrase": {"field": "content", "producers": [
                {"term": {"content": t[0]}}, {"wildcard": {"content": t[1][:4] + "*"}}]}}
        rows.append((f"q{i}", q))
    return rows


def dense_query(rng: random.Random) -> dict:
    """One dense query over the 120-term base vocabulary: term, 2-term
    must, phrase, prefix wildcard or must_not, in equal shares."""
    vocab = list(_full_vocab(None))
    kind = rng.randrange(5)
    if kind == 0:
        return {"term": {"content": rng.choice(vocab)}}
    if kind == 1:
        return {"bool": {"must": [{"term": {"content": t}} for t in rng.sample(vocab, 2)]}}
    if kind == 2:
        return {"phrase": {"field": "content", "terms": rng.sample(vocab, 2)}}
    if kind == 3:
        return {"wildcard": {"content": rng.choice(vocab)[:3] + "*"}}
    a, b = rng.sample(vocab, 2)
    return {"bool": {"must": [{"term": {"content": a}}],
                     "must_not": [{"term": {"content": b}}]}}


def term_queries(rng: random.Random, n: int) -> dict[str, list[str]]:
    """Term-list queries mixing head (ranks < 120), mid (120-1000) and tail
    (1000+) terms of the index vocabulary, one to three terms each."""
    vocab = list(_full_vocab(INDEX_VOCAB))
    bands = (vocab[:120], vocab[120:1000], vocab[1000:])
    out = {}
    for i in range(n):
        out[f"w{i}"] = [rng.choice(bands[rng.randrange(3)]) for _ in range(rng.randint(1, 3))]
    return out


def dsl_queries(rng: random.Random) -> dict[str, dict]:
    """One query per verification shape the index path supports."""
    head = list(_full_vocab(None))
    mid = list(_full_vocab(INDEX_VOCAB)[120:1000])
    a, b, c = rng.sample(head, 3)
    return {
        "phrase": {"phrase": {"field": "content", "terms": [a, b]}},
        "sloppy": {"phrase": {"field": "content", "terms": [b, c], "slop": 2}},
        "span": {"span_near": {"clauses": [{"span_term": {"content": a}},
                                           {"span_term": {"content": c}}],
                               "slop": 3, "in_order": True}},
        "msm": {"bool": {"should": [{"term": {"content": t}} for t in rng.sample(mid, 3)],
                         "minimum_should_match": 2}},
        "wildcard": {"bool": {"must": [{"wildcard": {"content": rng.choice(mid)[:5] + "*"}},
                                       {"term": {"content": a}}]}},
        "must_not": {"bool": {"must": [{"term": {"content": rng.choice(mid)}}],
                              "must_not": [{"term": {"content": b}}]}},
    }

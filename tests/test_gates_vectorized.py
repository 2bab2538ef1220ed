"""Vectorized gate choice (registry.gates_pdf) equals the per-query loop.

The rarest-group gate (reference: LimitingFilterFactory's per-query
limiting filter choice, LimitingFilterFactory.java:64-101) moved from a
per-query python ``min()`` loop to a pandas merge/groupby/idxmin over the
registry's cached flat gate-group table — ~100s -> ~4s of driver time at a
10^6-query registry. Gate choice only affects performance (any group is a
sound candidate filter), but the two forms must still agree EXACTLY so the
candidate volumes the jv cost model reads stay comparable across rounds.
"""

import random

import pytest

from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry


def _loop_gates(reg: CompiledRegistry, term_df=None):
    """The pre-vectorization reference implementation, verbatim."""
    from elasticsearch_batch_percolator_spark.operators.match import (
        wildcard_to_like,
    )

    term_df = term_df or {}
    lit_rows, pat_rows = [], []
    for q in reg.queries.values():
        if q.match_none or q.groups is None or len(q.groups) == 0:
            continue
        literal_groups = [
            g for g in q.groups if all(kind == "t" for kind, _, _ in g)
        ]
        if literal_groups:
            gate = min(
                literal_groups,
                key=lambda g: sum(term_df.get((f, v), 0) for _, f, v in g),
            )
            lit_rows.extend((q.query_id, f, v) for _, f, v in gate)
        else:
            gate = min(q.groups, key=len)
            for kind, f, v in gate:
                if kind == "t":
                    lit_rows.append((q.query_id, f, v))
                else:
                    pat_rows.append((q.query_id, f, wildcard_to_like(v)))
    return lit_rows, pat_rows


def _gates(reg: CompiledRegistry, term_df=None):
    """``gates_pdf`` as (literal_gates, pattern_gates) tuple lists:
    [(query_id, field, term)] and [(query_id, field, like_pattern)]."""
    import pandas as pd

    tdf = pd.DataFrame(
        [(f, v, d) for (f, v), d in (term_df or {}).items()],
        columns=["field", "value", "df"],
    )
    lit_pdf, pat_pdf = reg.gates_pdf(tdf)
    return (
        list(zip(lit_pdf["query_id"], lit_pdf["field"], lit_pdf["term"])),
        list(zip(pat_pdf["query_id"], pat_pdf["field"], pat_pdf["pattern"])),
    )


@pytest.fixture(scope="module")
def mixed_registry():
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    reg = CompiledRegistry()
    for i in range(3000):
        k = i % 8
        ts = rng.sample(vocab, rng.randint(1, 4))
        if k < 3:
            q = {"bool": {"must": [{"term": {"content": t}} for t in ts]}}
        elif k < 4:
            q = {"bool": {"should": [{"term": {"content": t}} for t in ts]}}
        elif k < 5:
            q = {"phrase": {"field": "content", "terms": rng.sample(vocab, 2)}}
        elif k < 6:
            q = {"wildcard": {"content": ts[0][:1] + "*"}}
        elif k < 7:
            q = {
                "bool": {
                    "must": [
                        {"term": {"title": ts[0]}},
                        {"term": {"content": ts[-1]}},
                    ]
                }
            }
        else:
            q = {"match_all": {}}
        reg.register(f"q{i}", q)
    return reg


def test_gates_pdf_equals_loop_with_stats(mixed_registry):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]
    term_df = {
        ("content", w): rng.randint(0, 100) for w in vocab if rng.random() < 0.8
    }
    term_df.update(
        {("title", w): rng.randint(0, 50) for w in vocab if rng.random() < 0.5}
    )
    lo, po = _loop_gates(mixed_registry, term_df)
    ln, pn = _gates(mixed_registry, term_df)
    # set equality == identical per-query group choice incl. tie-breaks
    # (a different choice would emit that query's OTHER group's rows)
    assert set(lo) == set(ln) and len(lo) == len(ln)
    assert set(po) == set(pn) and len(po) == len(pn)


def test_gates_pdf_equals_loop_no_stats(mixed_registry):
    lo, po = _loop_gates(mixed_registry, {})
    ln, pn = _gates(mixed_registry, {})
    assert set(lo) == set(ln) and len(lo) == len(ln)
    assert set(po) == set(pn) and len(po) == len(pn)


def test_flat_groups_cached_and_invalidated(mixed_registry):
    a = mixed_registry.flat_groups()
    b = mixed_registry.flat_groups()
    assert a is b  # cached per version
    mixed_registry.register("q_new", {"term": {"content": "w1"}})
    c = mixed_registry.flat_groups()
    assert c is not a
    assert len(c[1]) == len(a[1]) + 1


def test_empty_registry_gates():
    reg = CompiledRegistry()
    assert _gates(reg, {}) == ([], [])

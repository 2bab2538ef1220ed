"""Full-DSL top-k over the persisted index (operators/dsl_index.py):
retrieve+verify+score must be rank- and score-identical to the in-memory
engine — exact matching via plans/eval_py over the corpus, scoring via the
positive_term_weights map on the join scorer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import build_index
from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk, score_terms
from elasticsearch_batch_percolator_spark.operators.dsl_index import (
    UnsupportedIndexQuery,
    dsl_topk_from_index,
)
from elasticsearch_batch_percolator_spark.plans import compile_query
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.plans.query_plan import (
    positive_term_weights,
)

QUERIES = {
    # exact conjunction/disjunction — no verify phase
    "t": {"term": {"content": "spark"}},
    "b_and": {"bool": {"must": [{"term": {"content": "spark"}},
                                {"term": {"content": "join"}}]}},
    "b_or": {"bool": {"should": [{"term": {"content": "merge"}},
                                 {"term": {"content": "table"}}]}},
    # verification: must_not / msm / phrase / span / sloppy
    "b_not": {"bool": {"must": [{"term": {"content": "spark"}}],
                       "must_not": [{"term": {"content": "join"}}]}},
    "msm2": {"bool": {"should": [{"term": {"content": "merge"}},
                                 {"term": {"content": "sort"}},
                                 {"term": {"content": "hash"}}],
                      "minimum_should_match": 2}},
    "ph": {"phrase": {"field": "content", "terms": ["the", "fast"]}},
    "ph_slop": {"phrase": {"field": "content", "terms": ["the", "fox"],
                           "slop": 2}},
    "sp": {"span_near": {"clauses": [{"span_term": {"content": "the"}},
                                     {"span_term": {"content": "fast"}}],
                         "slop": 3, "in_order": True}},
    # multi-term expansion against the persisted dictionary
    "wc": {"bool": {"must": [{"wildcard": {"content": "sp*"}},
                             {"term": {"content": "join"}}]}},
    "fz": {"bool": {"must": [{"fuzzy": {"content": {"value": "spark",
                                                    "fuzziness": 1}}}]}},
    "wcp": {"wildcard_phrase": {"field": "content",
                                "producers": [{"term": {"content": "the"}},
                                              {"wildcard": {"content": "f*"}}]}},
    # filter-only: matches without scoring terms, all scoring 0.0
    "flt": {"bool": {"filter": [{"term": {"content": "spark"}}]}},
    # boosted scoring through the index path
    "boost": {"bool": {"must": [
        {"term": {"content": {"value": "spark", "boost": 3.0}}},
        {"term": {"content": "join"}}]}},
    # bool-with-phrase: the verdict's named "done" criterion
    "mix": {"bool": {"must": [{"term": {"content": "spark"}},
                              {"phrase": {"field": "content",
                                          "terms": ["the", "fast"]}}],
                     "must_not": [{"term": {"content": "window"}}]}},
}


@pytest.fixture(scope="module")
def pos_index(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dslidx"))
    eng = Engine.from_documents(spark, sf_dir)
    build_index(
        spark, eng.docs.select("doc_id", "tokens"), out,
        n_segments=4, positions=True, lineage=sf_dir,
    )
    return out


def _expected(spark, engine, dsl, k=10):
    """Oracle: exact eval_plan over every doc + weighted join scorer."""
    plan = compile_query(dsl)
    docs = engine.docs.select("doc_id", "tokens").collect()
    matched = [
        int(r["doc_id"])
        for r in docs
        if eval_plan(plan, {"content": list(r["tokens"])})
    ]
    if not matched:
        return {}
    w: dict[str, float] = {}
    for (_f, t), wt in positive_term_weights(plan).items():
        w[t] = w.get(t, 0.0) + wt
    # multi-term atoms (wildcard/fuzzy) contribute their expanded terms —
    # expand against the corpus vocabulary like the index path does
    from elasticsearch_batch_percolator_spark.plans.eval_py import (
        fuzzy_pred,
        wildcard_regex,
    )
    from elasticsearch_batch_percolator_spark.plans.query_plan import (
        Bool, Fuzzy, SpanFirst, SpanNear, SpanNot, SpanOr, Wildcard,
        WildcardPhrase,
    )

    vocab = sorted({t for r in docs for t in r["tokens"]})

    def expand(p, b=1.0):
        if isinstance(p, Wildcard):
            rx = wildcard_regex(p.pattern)
            for t in vocab:
                if rx.match(t):
                    w[t] = w.get(t, 0.0) + b
        elif isinstance(p, Fuzzy):
            pred = fuzzy_pred(p.value, p.fuzziness, p.prefix_length)
            for t in vocab:
                if pred(t):
                    w[t] = w.get(t, 0.0) + b
        elif isinstance(p, Bool):
            for g in (p.must, p.should):
                for c in g:
                    expand(c, b * p.boost)
        elif isinstance(p, (SpanNear, SpanOr)):
            for c in p.clauses:
                expand(c, b)
        elif isinstance(p, SpanNot):
            expand(p.include, b)
        elif isinstance(p, SpanFirst):
            expand(p.match, b)
        elif isinstance(p, WildcardPhrase):
            for c in p.producers:
                expand(c, b)

    expand(plan)
    if not w:
        return {m: (i + 1, 0.0) for i, m in enumerate(sorted(matched)[:k])}
    qt = spark.createDataFrame(
        [("q", t, wt) for t, wt in sorted(w.items())],
        "query_id string, term string, w double",
    )
    n, avgdl = engine.stats
    scored = score_terms(engine.tf, engine.dl, engine.dfreq, qt, n, avgdl)
    mdf = spark.createDataFrame([(m,) for m in matched], "doc_id long")
    top = bm25_topk(
        scored.join(mdf, "doc_id", "right").fillna({"score": 0.0}), k
    ).collect()
    return {int(r["doc_id"]): (int(r["rank"]), float(r["score"])) for r in top}


@pytest.mark.parametrize("qid", sorted(QUERIES))
def test_dsl_index_rank_identity(spark, engine, pos_index, qid):
    got = {
        int(r["doc_id"]): (int(r["rank"]), float(r["score"]))
        for r in dsl_topk_from_index(spark, pos_index, {qid: QUERIES[qid]}, k=10)
        .collect()
    }
    exp = _expected(spark, engine, QUERIES[qid])
    assert set(got) == set(exp), f"{qid}: docs {sorted(got)} != {sorted(exp)}"
    for d, (rk, sc) in got.items():
        erk, esc = exp[d]
        assert rk == erk, f"{qid} doc {d}: rank {rk} != {erk}"
        assert abs(sc - esc) < 1e-9, f"{qid} doc {d}: score {sc} != {esc}"


def test_dsl_index_batch_matches_singles(spark, pos_index):
    """One batched call == per-query calls (shared-scan fan-out is pure)."""
    batch = dsl_topk_from_index(spark, pos_index, QUERIES, k=5)
    got = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in batch.collect()
    }
    for qid in QUERIES:
        single = {
            (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
            for r in dsl_topk_from_index(
                spark, pos_index, {qid: QUERIES[qid]}, k=5
            ).collect()
        }
        sub = {kk: v for kk, v in got.items() if kk[0] == qid}
        assert sub == single, qid


def test_dsl_index_unsupported(spark, pos_index):
    for bad in (
        {"range": {"n_chars": {"gte": 1}}},
        {"exists": {"field": "content"}},
        {"ids": {"values": ["1"]}},
        {"match_all": {}},
        {"bool": {"must_not": [{"term": {"content": "spark"}}]}},
    ):
        with pytest.raises(UnsupportedIndexQuery):
            dsl_topk_from_index(spark, pos_index, {"q": bad}, k=5).collect()


def test_dsl_index_empty_expansion(spark, pos_index):
    out = dsl_topk_from_index(
        spark, pos_index, {"q": {"wildcard": {"content": "zzzznope*"}}}, k=5
    )
    assert out.count() == 0


@pytest.mark.parametrize("operator", ["topk", "dsl_topk", "phrase"])
def test_missing_index_raises_file_not_found(spark, tmp_path, operator):
    from elasticsearch_batch_percolator_spark.operators.phrase_index import (
        phrase_docs_from_index,
    )
    from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index

    missing = str(tmp_path / "no_such_index")
    call = {
        "topk": lambda: topk_from_index(spark, missing, {"q": ["spark", "sp*"]}),
        "dsl_topk": lambda: dsl_topk_from_index(
            spark, missing, {"q": {"term": {"content": "spark"}}}
        ),
        "phrase": lambda: phrase_docs_from_index(spark, missing, ["the", "f*"]),
    }[operator]
    with pytest.raises(FileNotFoundError, match="no_such_index"):
        call()


def test_one_per_segment_pass():
    """The three index query operators share ONE per-segment UDF: exactly
    one applyInPandas call site across their modules."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).parent.parent / (
        "elasticsearch_batch_percolator_spark/operators"
    )
    sites = [
        (name, node.lineno)
        for name in ("wand.py", "dsl_index.py", "phrase_index.py")
        for node in ast.walk(ast.parse((ops / name).read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandas"
    ]
    assert len(sites) == 1, sites

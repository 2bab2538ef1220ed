"""Index reads: declared schemas and term filters.

Every ``postings`` and ``term_stats`` read declares its schema instead of
inferring it, so the declared schemas must keep matching what the writers
put on disk. Term filters are built with one ``isInCollection`` call and
the dictionary lookup ORs literals with pattern predicates; both must
carry terms with quotes, backslashes, LIKE metacharacters and non-ASCII
text through unchanged, and an empty term list must select nothing.
The posting scan reads the ``tfs`` and ``positions`` columns only for a
positional query. An index in another posting layout is refused before
any read.
"""

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import (
    POSTINGS_SCHEMA,
    TERM_STATS_SCHEMA,
    append_index,
    build_index,
    compact_index,
    read_postings,
    read_term_stats,
)
from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk
from elasticsearch_batch_percolator_spark.operators.dsl_index import dsl_topk_from_index
from elasticsearch_batch_percolator_spark.operators.phrase_index import phrase_docs_from_index
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.plans.eval_py import wildcard_regex
from tests.test_dsl_index import _expected

TEXTS = [
    "it's a\\b 100% foo_bar café",
    "it's it's naïve 日本 'quoted' a%b",
    "a\\b a\\\\b foo_bar foo%bar 100%",
    "café cafe caf_ naïve naive",
    "'quoted' \"dq\" x_y x%y 日本語",
    "plain words only here",
    "it''s a_b 100%% ü",
    "foo_bar foo_bar café 'quoted'",
]
ODD = ["it's", "a\\b", "a\\\\b", "100%", "foo_bar", "foo%bar", "café", "naïve",
       "日本", "'quoted'", '"dq"', "a%b", "x_y", "it''s", "ü"]


@pytest.fixture(scope="module")
def odd(spark, tmp_path_factory):
    corpus = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, content string")
    eng = Engine(spark, corpus, tokenizer="ws")
    out = str(tmp_path_factory.mktemp("oddidx"))
    build_index(spark, eng.docs.select("doc_id", "tokens"), out, n_segments=3, positions=True)
    return eng, out


def _fields(schema: T.StructType) -> list[tuple[str, T.DataType]]:
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("positions", [True, False])
def test_declared_schemas_match_inferred(spark, tmp_path, positions):
    rows = [(i, ["a", "b", "a", "c%d" % (i % 3)]) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    out = str(tmp_path / "ix")
    build_index(spark, docs, out, n_segments=2, positions=positions)
    inferred = spark.read.parquet(os.path.join(out, "postings")).schema
    assert _fields(inferred) == _fields(POSTINGS_SCHEMA)
    inferred = spark.read.parquet(os.path.join(out, "term_stats")).schema
    assert _fields(inferred) == _fields(TERM_STATS_SCHEMA)


def test_read_term_stats_odd_terms(spark, odd):
    eng, idx = odd
    want = {
        r["term"]: int(r["df"])
        for r in eng.dfreq.filter(F.col("term").isin(ODD)).collect()
    }
    assert set(want) == set(ODD)
    assert read_term_stats(spark, idx, ODD + ["it'", "a\\", "10%"]) == want
    assert read_postings(spark, idx, ODD).select("term").distinct().count() == len(want)


def test_empty_term_lists_select_nothing(spark, odd):
    _, idx = odd
    assert read_term_stats(spark, idx, []) == {}
    assert read_postings(spark, idx, []).count() == 0
    assert topk_from_index(spark, idx, {"q": []}).count() == 0
    assert topk_from_index(spark, idx, {}).count() == 0
    assert dsl_topk_from_index(spark, idx, {}).count() == 0


def test_topk_odd_terms_match_join_scorer(spark, odd):
    eng, idx = odd
    vocab = sorted({t for r in eng.docs.select("tokens").collect() for t in r["tokens"]})
    queries = {
        "lit": ["it's", "a\\b", "100%", "日本"],
        "lit2": ["foo_bar", "'quoted'", "naïve", "missing'"],
        "wc_us": ["foo_*"],
        "wc_pct": ["foo%*", "100*", "x?y"],
        "wc_bs": ["a\\*"],
        "wc_uni": ["caf?", "日*"],
        "wc_q": ["'*'", "it?s"],
    }
    rows = []
    for q, ts in queries.items():
        if any("*" in t or "?" in t for t in ts):
            # a pattern-bearing query scores the union of its terms once each
            terms = {t for p in ts for t in vocab if wildcard_regex(p).match(t)}
            rows += [(q, t) for t in sorted(terms)]
        else:
            rows += [(q, t) for t in ts]
    qdf = spark.createDataFrame(rows, "query_id string, term string")
    want = {
        (r["query_id"], int(r["rank"])): (int(r["doc_id"]), float(r["score"]))
        for r in bm25_topk(eng.score(qdf), 5).collect()
    }
    got = {
        (r["query_id"], int(r["rank"])): (int(r["doc_id"]), float(r["score"]))
        for r in topk_from_index(spark, idx, queries, k=5).collect()
    }
    assert {q for q, _ in got} == set(queries)
    assert got.keys() == want.keys()
    for key, (doc, score) in got.items():
        assert doc == want[key][0], key
        assert abs(score - want[key][1]) < 1e-9, key


@pytest.mark.parametrize(
    "dsl",
    [
        {"term": {"content": "it's"}},
        {"bool": {"should": [{"term": {"content": "a\\b"}},
                             {"term": {"content": "100%"}},
                             {"term": {"content": "日本"}}]}},
        {"bool": {"must": [{"wildcard": {"content": "foo_*"}}],
                  "must_not": [{"term": {"content": "café"}}]}},
        {"wildcard": {"content": "'*"}},
        {"wildcard": {"content": "a\\*"}},
        {"phrase": {"field": "content", "terms": ["it's", "naïve"]}},
        {"wildcard_phrase": {"field": "content",
                             "producers": [{"term": {"content": "foo_bar"}},
                                           {"wildcard": {"content": "caf*"}}]}},
    ],
    ids=["quote", "bs_pct_uni", "wc_underscore", "wc_quote", "wc_backslash",
         "phrase", "wc_phrase"],
)
def test_dsl_topk_odd_terms_match_engine(spark, odd, dsl):
    eng, idx = odd
    got = {
        int(r["doc_id"]): (int(r["rank"]), float(r["score"]))
        for r in dsl_topk_from_index(spark, idx, {"q": dsl}, k=10).collect()
    }
    exp = _expected(spark, eng, dsl)
    assert exp, "the fixture must give every query a match"
    assert set(got) == set(exp)
    for d, (rk, sc) in got.items():
        assert rk == exp[d][0], d
        assert abs(sc - exp[d][1]) < 1e-9, d


@pytest.mark.parametrize(
    "layout, fields",
    [("blocks", {"block": 128}), ("term-rows-1", {"layout": "term-rows-1"})],
    ids=["blocks", "term-rows-1"],
)
def test_block_layout_index_is_refused(spark, tmp_path, layout, fields):
    """An index written in an older posting layout would read as null
    payload columns under ``POSTINGS_SCHEMA`` and answer with postings
    missing: the 128-posting block layout (its manifest has a ``block``
    size and names no layout) and the varint-bytes row layout
    (``term-rows-1``). Every reader and writer refuses it instead, naming
    the directory."""
    old = str(tmp_path / "old")
    os.makedirs(os.path.join(old, "postings", "segment_id=0"))
    with open(os.path.join(old, "manifest.json"), "w") as f:
        json.dump(
            {
                "n_docs": 2, "avgdl": 2.0, "n_segments": 1, "seg_size": 2,
                "k1": 1.2, "b": 0.75, "tokenizer": "ws",
                "positions": True, "input_lineage": "",
                "completed": {"0": {"terms": 2, "postings": 3}},
                "boundaries": [], "stage_metrics": {}, **fields,
            },
            f,
        )
    docs = spark.createDataFrame([(7, ["a", "b"])], "doc_id long, tokens array<string>")
    calls = {
        "topk_from_index": lambda: topk_from_index(spark, old, {"q": ["a"]}),
        "dsl_topk_from_index": lambda: dsl_topk_from_index(
            spark, old, {"q": {"term": {"content": "a"}}}
        ),
        "phrase_docs_from_index": lambda: phrase_docs_from_index(spark, old, ["a", "b"]),
        "append_index": lambda: append_index(spark, docs, old),
        "compact_index": lambda: compact_index(spark, old, str(tmp_path / "dst")),
        "build_index": lambda: build_index(spark, docs, old, resume=True),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=f"posting layout '{layout}'.*rebuild") as e:
            call()
        assert old in str(e.value), name


def _postings_scan_columns(df) -> set[str]:
    """The columns the plan's ``postings`` file scan reads."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        {c.split("#")[0] for c in cols.split(",")}
        for cols in re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    ]
    (cols,) = [c for c in scans if "segment_id" in c]
    return cols


def test_scan_reads_positions_only_for_positional_queries(spark, tmp_path):
    """A term top-k and a non-positional DSL query score from doc ids and
    norms alone, so their scan reads neither ``tfs`` nor ``positions``; a
    phrase query verifies on positions and reads both."""
    idx = str(tmp_path / "ix")
    docs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["b", "a"]), (3, ["a", "c", "b"])],
        "doc_id long, tokens array<string>",
    )
    build_index(spark, docs, idx, n_segments=2, positions=True)
    cases = {
        "term top-k": (topk_from_index(spark, idx, {"q": ["a", "b"]}), False, [1, 2, 3]),
        "dsl term": (
            dsl_topk_from_index(spark, idx, {"q": {"term": {"content": "c"}}}), False, [1, 3]
        ),
        "phrase": (
            dsl_topk_from_index(spark, idx, {"q": {"match_phrase": {"content": "a b"}}}),
            True,
            [1],
        ),
    }
    for name, (df, positional, want) in cases.items():
        cols = _postings_scan_columns(df)
        assert {"docs", "norms"} <= cols, name
        want_pos = {"tfs", "positions"} if positional else set()
        assert cols & {"tfs", "positions"} == want_pos, (name, cols)
        assert sorted(r["doc_id"] for r in df.collect()) == want, name

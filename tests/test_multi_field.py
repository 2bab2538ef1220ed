"""Multi-field percolation (A1 per-field analyzers + field-scoped matching).

Mirrors the reference's multi-field integration shape: every reference test
registers queries on ``field1``/``field2`` of the same document
(SimplePercolationTests.java:51-92; APITests.java:63-139 queries field2) and
analyzers are selected per field via PerFieldAnalyzerWrapper
(RamDirectoryPercolatorIndex.java:68-81).
"""

from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry


def _matches(res):
    return {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}


def test_multi_field_golden(spark):
    """Queries split across field1/field2; field names scope the match."""
    queries = {
        "q1": {"term": {"field1": "fox"}},
        "q2": {"term": {"field2": "youscan"}},
        "q3": {"bool": {"must": [{"term": {"field1": "fox"}},
                                  {"term": {"field2": "percolator"}}]}},
        "q4": {"term": {"field2": "fox"}},  # fox only occurs in field1
        "q5": {"match_all": {}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [(1, "the fox is here", "youscan percolator"),
         (2, "bad wolf", "acme fox")],
        "doc_id long, f1 string, f2 string",
    )
    res = percolate(spark, docs, reg, fields={"field1": "f1", "field2": "f2"})
    assert _matches(res) == {
        (1, "q1"), (1, "q2"), (1, "q3"), (1, "q5"),
        (2, "q4"), (2, "q5"),
    }


def test_multi_field_phrase_and_wildcard(spark):
    queries = {
        "ph": {"phrase": {"field": "field1", "terms": ["quick", "fox"]}},
        "wc": {"wildcard": {"field2": "perc*"}},
        "span": {"span_near": {"clauses": [{"span_term": {"field1": "a"}},
                                            {"span_term": {"field1": "c"}}],
                               "slop": 1, "in_order": True}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [(1, "the quick fox", "percolator"),
         (2, "a b c", "nothing"),
         (3, "quick brown fox", "percussion")],
        "doc_id long, f1 string, f2 string",
    )
    res = percolate(spark, docs, reg, fields={"field1": "f1", "field2": "f2"})
    assert _matches(res) == {
        (1, "ph"), (1, "wc"), (2, "span"), (3, "wc"),
    }


def test_per_field_analyzers(spark):
    """field2 uses the code analyzer: identifiers survive punctuation."""
    queries = {
        "code-id": {"term": {"code": "parse_request"}},
        "ws-id": {"term": {"prose": "parse_request(x)"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [(1, "call parse_request(x) now", "def parse_request(x): return x")],
        "doc_id long, prose string, src string",
    )
    res = percolate(
        spark, docs, reg,
        fields={"prose": ("prose", "ws"), "code": ("src", "code")},
    )
    # code analyzer splits "parse_request(x):" into parse_request / x —
    # the identifier term matches; the ws analyzer keeps "parse_request(x)"
    # as one token, so the exact-token query matches the prose field
    assert _matches(res) == {(1, "code-id"), (1, "ws-id")}


def test_unmapped_field_isolated_per_query(spark):
    """A query on a field the batch doesn't define never matches but does
    NOT abort the batch (per-query isolation, E10) — this replaces the old
    single-field ValueError that let one registered multi-field query
    permanently break every future batch."""
    queries = {
        "good": {"term": {"field1": "fox"}},
        "ghost": {"bool": {"must": [{"term": {"field1": "fox"}},
                                     {"term": {"nope": "fox"}}]}},
        "ghost2": {"term": {"nope": "fox"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame([(1, "red fox")], "doc_id long, f1 string")
    res = percolate(spark, docs, reg, fields={"field1": "f1"})
    assert _matches(res) == {(1, "good")}


def test_multi_field_scores_per_field_stats(spark):
    """BM25 per field: each field scores against its own df/avgdl."""
    queries = {
        "qa": {"term": {"field1": "rare"}},
        "qb": {"term": {"field2": "rare"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [(1, "rare word here", "rare"),
         (2, "common words only", "rare"),
         (3, "more common words", "other thing")],
        "doc_id long, f1 string, f2 string",
    )
    res = percolate(spark, docs, reg, fields={"field1": "f1", "field2": "f2"})
    scored = {
        (int(r["doc_id"]), r["query_id"]): r["score"]
        for r in res.with_scores(reg).collect()
    }
    # rare occurs once in field1 (df=1, N=3) but twice in field2 (df=2):
    # the field1 idf must exceed the field2 idf
    assert scored[(1, "qa")] > 0.0 and scored[(1, "qb")] > 0.0
    assert scored[(1, "qa")] > scored[(1, "qb")]


def test_single_field_mode_unchanged(spark):
    """fields=None keeps the flat-corpus behavior: any query field name
    resolves to the single content column."""
    queries = {"q": {"term": {"whatever_name": "fox"}}}
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame([(1, "a fox"), (2, "a dog")],
                                 "doc_id long, content string")
    res = percolate(spark, docs, reg)
    assert _matches(res) == {(1, "q")}


def test_multi_field_mixed_shapes_expected_matches(spark):
    """Term, cross-field bool with must_not, phrase, wildcard and nested
    queries over three configured fields match exactly the expected
    (doc, query) set."""
    queries = {
        "t": {"term": {"field1": "fox"}},
        "b": {"bool": {"must": [{"term": {"field1": "fox"}},
                                 {"term": {"field2": "percolator"}}],
                        "must_not": [{"term": {"field1": "wolf"}}]}},
        "p": {"phrase": {"field": "field1", "terms": ["quick", "fox"]}},
        "w": {"wildcard": {"field2": "perc*"}},
        "n": {"nested": {"path": "kids", "query": {"term": {"ct": "z"}}}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [(1, "the quick fox", "youscan percolator", [(["z", "y"],)]),
         (2, "fox wolf", "percolator", []),
         (3, "quick fox here", "nothing", [(["a"],)])],
        "doc_id long, f1 string, f2 string, kids array<struct<ct: array<string>>>",
    )
    fields = {"field1": "f1", "field2": "f2", "kids": ("kids", "nested")}

    got = _matches(percolate(spark, docs, reg, fields=fields))
    assert got == {
        (1, "t"), (1, "b"), (1, "p"), (1, "w"), (1, "n"),
        (2, "t"), (2, "w"),
        (3, "t"), (3, "p"),
    }


def test_auto_fields_simple_percolation(spark):
    """The reference's SimplePercolationTests.testSingleDocPercolation
    (SimplePercolationTests.java:43-108) with NO explicit field
    configuration: queries on field1 (term b / term c / b AND c /
    match_all), doc {"field1": "b"} — fields="auto" must infer the
    mapping from query fields ∩ batch columns (the reference's
    documentMapperWithAutoCreate, BatchPercolatorService.java:314) and
    match exactly queries {1, 4}."""
    reg = CompiledRegistry.from_rows([
        ("1", {"term": {"field1": "b"}}),
        ("2", {"term": {"field1": "c"}}),
        ("3", {"bool": {"must": [{"term": {"field1": "b"}},
                                 {"term": {"field1": "c"}}]}}),
        ("4", {"match_all": {}}),
    ])
    docs = spark.createDataFrame([(1, "b")], "doc_id long, field1 string")
    res = percolate(spark, docs, reg, fields="auto")
    got = _matches(res)
    res.unpersist()
    assert got == {(1, "1"), (1, "4")}


def test_auto_fields_dtype_analyzers(spark):
    """auto_fields types each inferred field from the batch column dtype:
    string → code analyzer, numeric → Range semantics, array<struct> →
    nested block join; a query field with no same-named column stays
    unconfigured (its query never matches, isolated)."""
    from elasticsearch_batch_percolator_spark.operators.percolate import (
        auto_fields,
    )

    reg = CompiledRegistry.from_rows([
        # code analyzer splits "foo.bar" into [foo, bar] — term "foo"
        # matches ONLY under the code analyzer (ws would keep it whole)
        ("s", {"term": {"title": "foo"}}),
        ("n", {"range": {"field": "price", "gte": 10, "lte": 20}}),
        ("nest", {"nested": {"path": "kids",
                             "query": {"term": {"name": "x"}}}}),
        ("ghost", {"term": {"nosuch": "y"}}),
    ])
    docs = spark.createDataFrame(
        [(1, "a foo.bar b", 15, [{"name": ["x"]}])],
        "doc_id long, title string, price long, "
        "kids array<struct<name:array<string>>>",
    )
    inferred = auto_fields(reg, docs)
    assert inferred["title"] == ("title", "code")
    assert inferred["price"] == ("price", "numeric")
    assert inferred["kids"] == ("kids", "nested")
    assert "nosuch" not in inferred
    res = percolate(spark, docs, reg, fields="auto")
    got = _matches(res)
    res.unpersist()
    assert got == {(1, "s"), (1, "n"), (1, "nest")}

"""Fuzzy / Regexp / Exists / constant_score / match_phrase_prefix /
query_string — the DSL tail of the reference's full-ES-parser surface
(BatchPercolatorQueriesRegistry.parseQuery:187-204 delegates to the ES
IndexQueryParserService, so any ES query body is a legal registration).

Checks: compile shapes, Catalyst match_col == python evaluator, the
phase-1 gate expansion path end-to-end through percolate (fuzzy/regexp
ride the batch term dictionary exactly like wildcards), highlighting of
fuzzy/regexp-matched tokens, and a randomized mixed-shape oracle run.
"""

import random

import pytest
from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.functions.tokenizer import tokenize_ws
from elasticsearch_batch_percolator_spark.operators.match import match_col
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.compiler import (
    QueryParseError,
    compile_query,
    parse_query_string,
    resolve_fuzziness,
)
from elasticsearch_batch_percolator_spark.plans.eval_py import (
    eval_plan,
    within_edits,
)
from elasticsearch_batch_percolator_spark.plans.query_plan import (
    Bool,
    Exists,
    Fuzzy,
    MatchNone,
    Phrase,
    Range,
    Regexp,
    Term,
    Wildcard,
    WildcardPhrase,
)
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

FIELD = "content"
# small-edit-distance neighborhood vocabulary
VOCAB = ["fox", "fix", "fax", "box", "foxx", "ox", "fog", "frog", "the", "a"]


# ---------------------------------------------------------------- compile

def test_compile_fuzzy_shapes():
    assert compile_query({"fuzzy": {"content": "Fox"}}) == Fuzzy(
        "content", "fox", 1, 0
    )  # AUTO at len 3 -> 1
    assert compile_query(
        {"fuzzy": {"content": {"value": "foxtrot", "fuzziness": 2,
                               "prefix_length": 3}}}
    ) == Fuzzy("content", "foxtrot", 2, 3)
    assert compile_query(
        {"fuzzy": {"field": "title", "value": "ab", "fuzziness": "AUTO"}}
    ) == Term("title", "ab")  # AUTO at len 2 -> 0 edits == term
    with pytest.raises(QueryParseError):
        compile_query({"fuzzy": {"content": {"value": "x", "fuzziness": 3}}})


def test_resolve_fuzziness_auto_ladder():
    assert [resolve_fuzziness("AUTO", n) for n in (1, 2, 3, 5, 6, 9)] == [
        0, 0, 1, 1, 2, 2,
    ]
    assert resolve_fuzziness("AUTO:4,8", 5) == 1
    assert resolve_fuzziness("AUTO:4,8", 8) == 2
    assert resolve_fuzziness(2, 1) == 2


def test_compile_regexp_exists_constant_score():
    assert compile_query({"regexp": {"content": "f.x"}}) == Regexp(
        "content", "f.x"
    )
    assert compile_query({"exists": {"field": "title"}}) == Exists("title")
    cs = compile_query(
        {"constant_score": {"filter": {"term": {"content": "fox"}}}}
    )
    assert cs == Bool(filter=(Term("content", "fox"),))


def test_compile_match_phrase_prefix():
    assert compile_query({"match_phrase_prefix": {"content": "quick bro"}}) == (
        WildcardPhrase(
            "content", (Term("content", "quick"), Wildcard("content", "bro*"))
        )
    )
    assert compile_query({"match_phrase_prefix": {"content": "bro"}}) == (
        Wildcard("content", "bro*")
    )
    assert compile_query({"match_phrase_prefix": {"content": "  "}}) == MatchNone()


def test_query_string_shapes():
    assert parse_query_string("fox") == Term("content", "fox")
    assert parse_query_string("quick fox") == Bool(
        should=(Term("content", "quick"), Term("content", "fox")), msm=1
    )
    assert parse_query_string("quick fox", default_operator="and") == Bool(
        must=(Term("content", "quick"), Term("content", "fox"))
    )
    assert parse_query_string("+quick -fox") == Bool(
        must=(Term("content", "quick"),), must_not=(Term("content", "fox"),)
    )
    assert parse_query_string('"the quick fox"~2') == Phrase(
        "content", ("the", "quick", "fox"), 2
    )
    assert parse_query_string("title:jump*") == Wildcard("title", "jump*")
    assert parse_query_string("n:[3 TO 7]") == Range("n", gte=3.0, lte=7.0)
    assert parse_query_string("n:[* TO 7]") == Range("n", gte=None, lte=7.0)
    assert parse_query_string("fox~1") == Fuzzy("content", "fox", 1)
    assert parse_query_string("foxtrot~") == Fuzzy("content", "foxtrot", 2)
    p = parse_query_string("a AND (b OR c)")
    assert p == Bool(
        must=(
            Term("content", "a"),
            Bool(should=(Term("content", "b"), Term("content", "c")), msm=1),
        )
    )
    # field scope distributes over a group
    p = parse_query_string("title:(a b)")
    assert p == Bool(should=(Term("title", "a"), Term("title", "b")), msm=1)
    assert compile_query(
        {"query_string": {"query": "a OR b", "default_field": "body"}}
    ) == Bool(should=(Term("body", "a"), Term("body", "b")), msm=1)
    with pytest.raises(QueryParseError):
        parse_query_string("(a OR b")  # unbalanced


def test_query_string_not_precedence():
    assert parse_query_string("NOT fox") == Bool(
        must_not=(Term("content", "fox"),)
    )
    p = parse_query_string("a OR NOT b")
    assert p == Bool(
        should=(Term("content", "a"), Bool(must_not=(Term("content", "b"),))),
        msm=1,
    )


# -------------------------------------------- Catalyst == python evaluator

def _random_new_plans(rng, n):
    out = []
    for _ in range(n):
        kind = rng.randrange(4)
        if kind == 0:
            out.append(
                Fuzzy(FIELD, rng.choice(VOCAB), rng.randint(1, 2),
                      rng.choice([0, 0, 1, 2]))
            )
        elif kind == 1:
            out.append(
                Regexp(FIELD, rng.choice(
                    ["f.x", "fo+x?", "(fox|box)", "f[aio]x", ".o.", "fr?og"]
                ))
            )
        elif kind == 2:
            out.append(Exists(rng.choice([FIELD, "missing_field"])))
        else:
            out.append(
                Bool(
                    must=(Fuzzy(FIELD, rng.choice(VOCAB), 1),),
                    must_not=(Regexp(FIELD, rng.choice(["f.x", ".o."])),)
                    if rng.random() < 0.5
                    else (),
                )
            )
    return out


def test_new_match_cols_equal_eval_py(spark):
    rng = random.Random(704)
    docs = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(0, 6)))) for i in range(250)
    ]
    plans = _random_new_plans(rng, 30)
    df = spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "tokens", tokenize_ws("text")
    )
    fields = {FIELD: F.col("tokens"), "missing_field": F.lit(None).cast("array<string>")}
    cols = [match_col(p, fields).alias(f"m{i}") for i, p in enumerate(plans)]
    rows = df.select("doc_id", "text", *cols).collect()
    for r in rows:
        pydoc = {FIELD: [t for t in r["text"].lower().split(" ") if t]}
        for i, p in enumerate(plans):
            assert bool(r[f"m{i}"]) == eval_plan(p, pydoc), (
                f"plan={p}\ndoc={pydoc}\nspark={r[f'm{i}']}"
            )


def test_exists_numeric_value_field(spark):
    df = spark.createDataFrame(
        [(0, 1.5), (1, None), (2, float("nan"))], "doc_id long, n double"
    )
    got = {
        int(r[0])
        for r in df.filter(
            match_col(Exists("n"), {}, {"n": F.col("n")})
        ).select("doc_id").collect()
    }
    assert got == {0}


def test_within_edits_prefix_semantics():
    # shared-prefix stripping: full-string distance == suffix distance, so
    # startswith + full levenshtein IS Lucene's prefix_length semantics
    assert within_edits("foxtrot", "foxtrit", 1)
    assert not within_edits("foxtrot", "fxotrot", 0)


# -------------------------------------------- percolate end-to-end (gates)

def _percolate_set(spark, queries, docs):
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(docs, "doc_id long, content string")
    res = percolate(spark, docs_df, reg)
    return {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}


def test_percolate_fuzzy_golden(spark):
    queries = {
        "f1": {"fuzzy": {"content": {"value": "fox", "fuzziness": 1}}},
        "f2": {"fuzzy": {"content": {"value": "fox", "fuzziness": 1,
                                     "prefix_length": 1}}},
        "re": {"regexp": {"content": "f[aio]x"}},
        "qs": {"query_string": {"query": "fox OR frog"}},
    }
    docs = [
        (0, "the fox jumps"),   # exact: all
        (1, "a fix appears"),   # 1 edit, prefix f kept
        (2, "the box arrives"), # 1 edit, prefix differs -> f1 not f2
        (3, "foxx doubled"),    # 1 insert, prefix kept, not in regexp
        (4, "nothing here"),
        (5, "fax machine"),     # 1 sub, prefix kept, in regexp class
    ]
    got = _percolate_set(spark, queries, docs)
    assert got == {
        (0, "f1"), (0, "f2"), (0, "re"), (0, "qs"),
        (1, "f1"), (1, "f2"), (1, "re"),
        (2, "f1"),
        (3, "f1"), (3, "f2"),
        (5, "f1"), (5, "f2"), (5, "re"),
    }


def test_percolate_exists_and_constant_score(spark):
    queries = {
        "ex": {"exists": {"field": "content"}},
        "cs": {"constant_score": {"filter": {"term": {"content": "fox"}}}},
    }
    docs = [(0, "fox"), (1, ""), (2, "  "), (3, "box")]
    got = _percolate_set(spark, queries, docs)
    # empty/whitespace content analyzes to no tokens -> not indexed -> no
    # exists match (Lucene analyzed-field behavior)
    assert got == {(0, "ex"), (0, "cs"), (3, "ex")}


def test_percolate_mixed_random_oracle(spark):
    """Randomized mixed old+new shapes vs eval_plan ground truth, through
    the full two-phase percolate (gate expansion + verify lanes)."""
    rng = random.Random(20260820)
    queries = {}
    for i in range(60):
        k = rng.randrange(6)
        if k == 0:
            queries[f"q{i}"] = {
                "fuzzy": {"content": {"value": rng.choice(VOCAB),
                                      "fuzziness": rng.randint(1, 2),
                                      "prefix_length": rng.choice([0, 1])}}
            }
        elif k == 1:
            queries[f"q{i}"] = {"regexp": {"content": rng.choice(
                ["f.x", "(fox|ox)", "f[aio]x", ".*o.*", "fr?og", "[bf]ox"]
            )}}
        elif k == 2:
            queries[f"q{i}"] = {"query_string": {
                "query": rng.choice([
                    "fox AND box", "fix OR fax", "+fox -box", "fo*",
                    '"the fox"', "fox~1", "NOT (fox OR box)",
                ])
            }}
        elif k == 3:
            queries[f"q{i}"] = {"constant_score": {
                "filter": {"term": {"content": rng.choice(VOCAB)}}
            }}
        elif k == 4:
            queries[f"q{i}"] = {"match_phrase_prefix": {
                "content": rng.choice(["the fo", "a fo", "fr"])
            }}
        else:
            queries[f"q{i}"] = {"term": {"content": rng.choice(VOCAB)}}
    docs = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(0, 8))))
        for i in range(150)
    ]
    got = _percolate_set(spark, queries, docs)
    expected = set()
    plans = {qid: compile_query(qj) for qid, qj in queries.items()}
    for did, text in docs:
        pydoc = {FIELD: [t for t in text.lower().split(" ") if t]}
        for qid, plan in plans.items():
            if eval_plan(plan, pydoc):
                expected.add((did, qid))
    assert got == expected


def test_fuzzy_regexp_highlight(spark):
    """Fuzzy/regexp-matched tokens highlight like wildcard expansions."""
    from elasticsearch_batch_percolator_spark.operators.highlight import (
        highlight_col,
    )

    queries = {
        "hf": {"fuzzy": {"content": {"value": "fox", "fuzziness": 1}}},
        "hr": {"regexp": {"content": "b.x"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(
        [(0, "the fix and the box")], "doc_id long, content string"
    )
    res = percolate(spark, docs_df, reg)
    hl = (
        res.matches.join(res.docs.select("doc_id", "content"), "doc_id")
        .withColumn("hl", highlight_col(reg, F.col("query_id"), F.col("content")))
        .collect()
    )
    hl_map = {r["query_id"]: r["hl"] for r in hl}
    assert hl_map["hf"] == "the <b>fix</b> and the <b>box</b>"
    assert hl_map["hr"] == "the fix and the <b>box</b>"


def test_windowed_hybrid_fuzzy(spark):
    """Fuzzy rides the windowed stream's hybrid python lane."""
    from elasticsearch_batch_percolator_spark.streaming.windowed import (
        windowed_match_counts,
    )

    queries = {
        "wf": {"fuzzy": {"content": {"value": "fox", "fuzziness": 1}}},
        "wt": {"term": {"content": "the"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", 1, "the fix"),
            ("2024-01-01 00:02:00", 2, "nothing"),
            ("2024-01-01 00:03:00", 3, "foxx den"),
        ],
        "ts_s string, doc_id long, content string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", hybrid=True
    )
    got = {(r["query_id"], r["n_docs"]) for r in out.collect()}
    assert got == {("wf", 2), ("wt", 1)}


def test_leaf_dict_bodies_with_boost():
    # round-5: boost is RETAINED as a scoring weight on term/phrase/bool
    # (matching stays boost-free); multi-term leaves (wildcard/prefix/
    # fuzzy/regexp) still accept-and-ignore it (their expanded terms score
    # unboosted, documented)
    assert compile_query({"term": {"content": {"value": "Fox", "boost": 2.0}}}) == Term(
        "content", "fox", boost=2.0
    )
    assert compile_query({"term": {"content": "fox"}}) == Term("content", "fox")
    assert compile_query(
        {"wildcard": {"content": {"wildcard": "fo*", "boost": 1.5}}}
    ) == Wildcard("content", "fo*")
    assert compile_query({"prefix": {"content": {"prefix": "fo"}}}) == Wildcard(
        "content", "fo*"
    )
    with pytest.raises(QueryParseError):
        compile_query({"term": {"content": {"boost": 2.0}}})


def test_boost_parsing_shapes():
    assert compile_query(
        {"bool": {"must": [{"term": {"content": "fox"}}], "boost": 3.0}}
    ) == Bool(must=(Term("content", "fox"),), boost=3.0)
    assert compile_query(
        {"match_phrase": {"content": {"query": "the fox", "boost": 2.0}}}
    ) == Phrase("content", ("the", "fox"), 0, boost=2.0)
    assert compile_query(
        {"match_phrase": {"content": {"query": "the fox", "slop": 2}}}
    ) == Phrase("content", ("the", "fox"), 2)
    assert compile_query(
        {"match": {"content": {"query": "quick fox", "boost": 4.0}}}
    ) == Bool(should=(Term("content", "quick"), Term("content", "fox")),
              msm=0, boost=4.0)
    with pytest.raises(QueryParseError):
        compile_query({"term": {"content": {"value": "fox", "boost": "big"}}})


def test_positive_term_weights():
    from elasticsearch_batch_percolator_spark.plans.query_plan import (
        positive_term_weights,
    )

    # path boosts multiply; repeats accumulate (qtf); filter/must_not
    # contribute nothing
    p = compile_query({
        "bool": {
            "must": [{"term": {"content": {"value": "fox", "boost": 2.0}}},
                     {"match_phrase": {"content": "the fox"}}],
            "should": [{"term": {"content": "dog"}}],
            "must_not": [{"term": {"content": "cat"}}],
            "filter": [{"term": {"content": "barn"}}],
            "boost": 3.0,
        }
    })
    w = positive_term_weights(p)
    assert w[("content", "fox")] == 2.0 * 3.0 + 3.0  # boosted term + phrase occurrence
    assert w[("content", "the")] == 3.0
    assert w[("content", "dog")] == 3.0
    assert ("content", "cat") not in w
    assert ("content", "barn") not in w


def test_positive_term_weights_span_repeat():
    """A span_near carrying the SAME span_term twice weights that term by
    its multiplicity (qtf) — the shape the round-5 fresh-seed soak caught
    diverging from a set-deduping score model (soaks/soak_scores.py)."""
    from elasticsearch_batch_percolator_spark.plans.query_plan import (
        positive_term_weights,
    )

    p = compile_query({
        "span_near": {
            "clauses": [{"span_term": {"content": "d"}},
                        {"span_term": {"content": "d"}}],
            "slop": 0, "in_order": False,
        }
    })
    assert positive_term_weights(p) == {("content", "d"): 2.0}


def test_match_fuzziness():
    p = compile_query(
        {"match": {"content": {"query": "quick foxtrot", "fuzziness": "AUTO"}}}
    )
    assert p == Bool(
        should=(Fuzzy("content", "quick", 1), Fuzzy("content", "foxtrot", 2)),
        msm=0,
    )
    p = compile_query(
        {"match": {"content": {"query": "ab fox", "fuzziness": 1,
                               "operator": "and", "prefix_length": 1}}}
    )
    assert p == Bool(
        must=(Fuzzy("content", "ab", 1, 1), Fuzzy("content", "fox", 1, 1))
    )


def test_match_fuzzy_percolates(spark):
    got = _percolate_set(
        spark,
        {"mf": {"match": {"content": {"query": "fix ths", "fuzziness": 1}}}},
        [(0, "fox and the rest"), (1, "nothing here"), (2, "this fax")],
    )
    # 'fix'~1 matches fox/fax; 'ths'~1 matches the/this
    assert got == {(0, "mf"), (2, "mf")}


def test_percolate_exists_numeric_field(spark):
    """Exists over a numeric percolate field resolves through the scalar
    verify view (non-null, non-NaN)."""
    queries = {
        "en": {"exists": {"field": "num"}},
        "ec": {"exists": {"field": "f1"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(
        [(0, "fox", 5.0), (1, "", None), (2, "box", float("nan"))],
        "doc_id long, f1 string, num double",
    )
    res = percolate(
        spark, docs_df, reg, fields={"f1": "f1", "num": ("num", "numeric")}
    )
    got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    assert got == {(0, "en"), (0, "ec"), (2, "ec")}


# ---------------------------------------------------------------- ids

def test_compile_ids_shapes():
    from elasticsearch_batch_percolator_spark.plans.query_plan import Ids

    # numeric ids coerce to canonical strings; values sort + dedup
    assert compile_query({"ids": {"values": ["4", 1, "z", 1]}}) == Ids(
        ("1", "4", "z")
    )
    # "type" accepted and ignored (ES IdsQueryParser)
    assert compile_query(
        {"ids": {"type": "doc", "values": ["a"]}}
    ) == Ids(("a",))
    assert compile_query({"ids": {"values": []}}) == MatchNone()
    with pytest.raises(QueryParseError):
        compile_query({"ids": {}})


def test_percolate_ids_golden(spark):
    queries = {
        "i1": {"ids": {"values": [0, "2"]}},
        "i2": {"bool": {"must": [{"term": {"content": "fox"}}],
                        "filter": [{"ids": {"values": ["0", "1"]}}]}},
        "i3": {"bool": {"must": [{"term": {"content": "fox"}}],
                        "must_not": [{"ids": {"values": [0]}}]}},
    }
    docs = [(0, "the fox"), (1, "a fox"), (2, "box"), (3, "fox")]
    got = _percolate_set(spark, queries, docs)
    assert got == {
        (0, "i1"), (2, "i1"),
        (0, "i2"), (1, "i2"),
        (1, "i3"), (3, "i3"),
    }


def test_percolate_ids_string_ids_multi_field(spark):
    """String-keyed corpus + explicit fields config: the reserved _id
    pseudo-field resolves to the id column regardless of the map."""
    queries = {
        "i": {"ids": {"values": ["a-1", "b-2"]}},
        "both": {"bool": {"must": [{"term": {"body": "fox"}}],
                          "filter": [{"ids": {"values": ["a-1", "c-3"]}}]}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(
        [("a-1", "the fox"), ("b-2", "a fox"), ("c-3", "box")],
        "doc_id string, txt string",
    )
    res = percolate(
        spark, docs_df, reg, id_col="doc_id", fields={"body": ("txt", "ws")}
    )
    got = {(r["doc_id"], r["query_id"]) for r in res.matches.collect()}
    assert got == {("a-1", "i"), ("b-2", "i"), ("a-1", "both")}


def test_ids_match_col_equals_eval(spark):
    from elasticsearch_batch_percolator_spark.plans.query_plan import Ids

    plans = [
        Ids(("1", "3")),
        Bool(must=(Term(FIELD, "fox"),), filter=(Ids(("0", "1")),)),
        Bool(must_not=(Ids(("2",)),)),
    ]
    rows = [(i, t) for i, t in enumerate(["the fox", "fox", "box", "fog"])]
    df = spark.createDataFrame(rows, "doc_id long, content string").withColumn(
        "tokens", tokenize_ws("content")
    )
    toks = {FIELD: F.col("tokens")}
    vals = {"_id": F.col("doc_id")}
    for plan in plans:
        got = {
            int(r["doc_id"])
            for r in df.filter(match_col(plan, toks, vals)).collect()
        }
        want = {
            i
            for i, (did, text) in enumerate(rows)
            if eval_plan(
                plan, {"_id": did, FIELD: text.lower().split()}
            )
        }
        assert got == want, plan


def test_compile_dsl_compat_rewrites():
    """dis_max / boosting / common / filtered — ES 1.x types the reference
    accepts via the full IndexQueryParserService
    (BatchPercolatorQueriesRegistry.java:187-206). Matching rewrites:
    dis_max → should(msm=1) [exact]; boosting → positive clause [exact —
    negative only demotes score]; common → analyzed disjunction
    [exact when no term crosses cutoff]; filtered → bool{must,filter}
    [exact]. Truly-unsupported types raise with the documented list."""
    assert compile_query(
        {"dis_max": {"queries": [{"term": {"content": "a"}},
                                 {"term": {"content": "b"}}],
                     "tie_breaker": 0.7}}
    ) == Bool(should=(Term("content", "a"), Term("content", "b")), msm=1)
    assert compile_query(
        {"boosting": {"positive": {"term": {"content": "a"}},
                      "negative": {"term": {"content": "b"}},
                      "negative_boost": 0.2}}
    ) == Term("content", "a")
    assert compile_query(
        {"common": {"content": {"query": "the quick fox",
                                "cutoff_frequency": 0.001}}}
    ) == Bool(should=(Term("content", "the"), Term("content", "quick"),
                      Term("content", "fox")), msm=1)
    assert compile_query(
        {"common": {"content": {"query": "a b", "low_freq_operator": "and"}}}
    ) == Bool(must=(Term("content", "a"), Term("content", "b")))
    assert compile_query(
        {"filtered": {"query": {"term": {"content": "a"}},
                      "filter": {"range": {"n": {"gte": 1}}}}}
    ) == Bool(must=(Term("content", "a"),), filter=(Range("n", gte=1, lte=None),))
    for bad in ("function_score", "geo_distance", "has_child",
                "more_like_this", "script"):
        with pytest.raises(QueryParseError, match="documented-unsupported"):
            compile_query({bad: {}})
    with pytest.raises(QueryParseError):
        compile_query({"dis_max": {"queries": []}})
    with pytest.raises(QueryParseError):
        compile_query({"boosting": {"negative": {"term": {"content": "b"}}}})


def test_percolate_dsl_compat_golden(spark):
    """The rewritten types flow end-to-end through registration →
    limiting filter → verify."""
    queries = {
        "dm": {"dis_max": {"queries": [{"term": {"content": "fox"}},
                                       {"phrase": {"field": "content",
                                                   "terms": ["bad", "wolf"]}}]}},
        "bo": {"boosting": {"positive": {"term": {"content": "fox"}},
                            "negative": {"term": {"content": "fast"}},
                            "negative_boost": 0.1}},
        "cm": {"common": {"content": {"query": "spark join",
                                      "cutoff_frequency": 0.01}}},
        "fl": {"filtered": {"query": {"term": {"content": "fox"}},
                            "filter": {"term": {"content": "fast"}}}},
    }
    docs = [(0, "the fox is fast"), (1, "bad wolf"), (2, "spark streams"),
            (3, "wolf bad wolf"), (4, "nothing here")]
    got = _percolate_set(spark, queries, docs)
    assert got == {
        (0, "dm"), (1, "dm"), (3, "dm"),
        (0, "bo"),           # negative clause does NOT exclude
        (2, "cm"),
        (0, "fl"),
    }


def test_ids_exists_range_scalar_columns(spark):
    """Scalar-column atoms in percolation: positive and must_not Ids
    against the ``_id`` pseudo-field, Exists and Range on a numeric field
    (null and NaN values included), and a NULL doc id."""
    queries = {
        "i1": {"ids": {"values": ["a-1", "b-2"]}},
        "i2": {"bool": {"must": [{"term": {"body": "fox"}}],
                        "must_not": [{"ids": {"values": ["a-1"]}}]}},
        "en": {"bool": {"must": [{"exists": {"field": "n"}}]}},
        "rn": {"range": {"n": {"gte": 2, "lte": 9}}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(
        [("a-1", "the fox", 1.5), ("b-2", "a fox", None),
         (None, "null-id fox", 3.0), ("c-3", "box", float("nan"))],
        "doc_id string, txt string, n double",
    )
    fields = {"body": ("txt", "ws"), "n": ("n", "numeric")}

    def run():
        res = percolate(spark, docs_df, reg, id_col="doc_id", fields=fields)
        return {(r["doc_id"], r["query_id"]) for r in res.matches.collect()}

    # NULL-id docs are excluded from percolation entirely — doc_id is the
    # equi-join key through phase 1/2 (null keys never join), and ES
    # itself rejects a null _id at index time
    assert run() == {
        ("a-1", "i1"), ("b-2", "i1"),
        ("b-2", "i2"),
        ("a-1", "en"),
    }


def test_windowed_hybrid_ids(spark):
    """Ids rides the hybrid lane via the injected _id view."""
    from elasticsearch_batch_percolator_spark.streaming.windowed import (
        windowed_match_counts,
    )

    queries = {
        "wi": {"ids": {"values": [1, 3]}},
        "wt": {"term": {"content": "the"}},
    }
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs = spark.createDataFrame(
        [
            ("2024-01-01 00:01:00", 1, "the fix"),
            ("2024-01-01 00:02:00", 2, "nothing"),
            ("2024-01-01 00:03:00", 3, "foxx den"),
        ],
        "ts_s string, doc_id long, content string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", hybrid=True
    )
    got = {(r["query_id"], r["n_docs"]) for r in out.collect()}
    assert got == {("wi", 2), ("wt", 1)}

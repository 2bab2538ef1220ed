"""Join-verify lane equivalence: the Catalyst term-conjunction verifier
(batch_terms ⋈ broadcast need/forbid table → count aggregate) must produce
EXACTLY the matches of the broadcast python evaluator for every simple
registry shape — multi-field, must_not, unconfigured fields, duplicated
terms, required∩forbidden — in both single- and multi-field modes."""

import os
import random

import pytest

from elasticsearch_batch_percolator_spark.corpus import synth_corpus
from elasticsearch_batch_percolator_spark.corpus import VOCAB
from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import (
    BatchPlan,
    percolate,
)
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry


def _registry(seed: int, n: int) -> CompiledRegistry:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        def clause():
            r = rng.random()
            if r < 0.3:  # slop-0 phrase: exact via n-gram stream
                k = rng.randint(2, 4)
                return {"phrase": {"field": "text",
                                   "terms": [rng.choice(VOCAB) for _ in range(k)]}}
            if r < 0.45:  # wildcard: jv via batch-dict expansion
                return {"wildcard": {"text": rng.choice(VOCAB)[:2] + "*"}}
            if r < 0.55:  # wildcard-phrase: jv via expanded n-grams
                k = rng.randint(2, 3)
                prods = [{"term": {"text": rng.choice(VOCAB)}} for _ in range(k)]
                wi = rng.randrange(k)
                prods[wi] = {"wildcard": {"text": rng.choice(VOCAB)[:2] + "*"}}
                return {"wildcard_phrase": {"field": "text", "producers": prods}}
            return {"term": {"text": rng.choice(VOCAB)}}
        if rng.random() < 0.15:
            rows.append((f"q{i}", {"phrase": {"field": "text",
                                              "terms": [rng.choice(VOCAB),
                                                        rng.choice(VOCAB)]}}))
            continue
        must = [clause() for _ in range(rng.randint(1, 3))]
        mnot = [clause() for _ in range(rng.randint(0, 2))]
        rows.append((f"q{i}", {"bool": {"must": must, "must_not": mnot}}))
    rows += [
        # multi-field conjunction across two analyzed fields
        ("mfA", {"bool": {"must": [{"term": {"text": "merge"}},
                                   {"term": {"lang": "java"}}]}}),
        ("mfB", {"bool": {"must": [{"term": {"text": "spark"}}],
                          "must_not": [{"term": {"lang": "go"}}]}}),
        # required term on an unconfigured field: can never match
        ("unconf", {"bool": {"must": [{"term": {"nosuchfield": "x"}}]}}),
        # forbidden term on an unconfigured field: never present, ignored
        ("unconf_not", {"bool": {"must": [{"term": {"text": "join"}}],
                                 "must_not": [{"term": {"ghost": "y"}}]}}),
        # duplicated required term: containment is idempotent
        ("dup", {"bool": {"must": [{"term": {"text": "the"}},
                                   {"term": {"text": "the"}}]}}),
        # same term required AND forbidden: can never match
        ("both", {"bool": {"must": [{"term": {"text": "row"}}],
                           "must_not": [{"term": {"text": "row"}}]}}),
        # 3-term slop-0 phrase: jv-eligible via the trigram stream
        ("p3", {"phrase": {"field": "text", "terms": ["the", "def", "import"]}}),
        # NOT jv-eligible (slop>0): python lane alongside jv siblings
        ("pslop", {"phrase": {"field": "text", "terms": ["the", "class"], "slop": 1}}),
        # forbidden 2- and 3-term phrases: n-gram containment must exclude
        ("pnot", {"bool": {"must": [{"term": {"text": "the"}}],
                           "must_not": [{"phrase": {"field": "text",
                                                    "terms": ["the", "def"]}}]}}),
        ("pnot3", {"bool": {"must": [{"term": {"text": "def"}}],
                            "must_not": [{"phrase": {"field": "text",
                                                     "terms": ["the", "def", "import"]}}]}}),
        # 9-term phrase: past _JV_MAX_GRAM, stays on the python lane
        ("plong", {"phrase": {"field": "text",
                              "terms": ["the"] * 9}}),
        # bare wildcard (jv "w" atom: expansion against the batch dict)
        ("wbare", {"wildcard": {"text": "de*"}}),
        # wildcard matching NOTHING in the batch: zero expansion rows,
        # required atom unsatisfiable, must never match
        ("wnone", {"wildcard": {"text": "zzzqqqxx*"}}),
        # forbidden wildcard: any expanded hit excludes the doc
        ("wnot", {"bool": {"must": [{"term": {"text": "the"}}],
                           "must_not": [{"wildcard": {"text": "im*"}}]}}),
        # wildcard on an unconfigured field: required -> never matches
        ("wunconf", {"bool": {"must": [{"wildcard": {"ghost": "a*"}}]}}),
        # wildcard-phrase, wildcard at each position
        ("wgA", {"wildcard_phrase": {"field": "text", "producers": [
            {"wildcard": {"text": "th*"}}, {"term": {"text": "def"}}]}}),
        ("wgB", {"wildcard_phrase": {"field": "text", "producers": [
            {"term": {"text": "the"}}, {"wildcard": {"text": "de*"}}]}}),
        ("wgMid", {"wildcard_phrase": {"field": "text", "producers": [
            {"term": {"text": "the"}}, {"wildcard": {"text": "d*"}},
            {"term": {"text": "import"}}]}}),
        # TWO wildcard positions: not jv-eligible, python lane
        ("wg2w", {"wildcard_phrase": {"field": "text", "producers": [
            {"wildcard": {"text": "th*"}}, {"wildcard": {"text": "d*"}}]}}),
    ]
    return CompiledRegistry.from_rows(rows)


def _matches(spark, batch, reg, mode, fields):
    os.environ["EBP_SIMPLE_JOIN_VERIFY"] = mode
    try:
        res = percolate(spark, batch, reg, fields=fields)
        out = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
        res.unpersist()
        return out
    finally:
        os.environ.pop("EBP_SIMPLE_JOIN_VERIFY", None)


def test_warmup_prebuilds_structs_and_matches_unchanged(spark):
    """Registration-time warmup precomputes the jv structures for the
    default single-field layout; the first percolate must HIT that cache
    (same key) and produce identical matches."""
    reg = _registry(5, 30)
    reg.warmup(spark)
    prebuilt = reg._jv_struct_cache[1]
    batch = synth_corpus(spark, 800, partitions=2).persist()
    batch.count()
    try:
        res = percolate(spark, batch, reg)
        got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
        res.unpersist()
        assert reg._jv_struct_cache[1] is prebuilt  # cache hit, no rebuild
        res2 = percolate(spark, batch, reg)
        got2 = {(int(r["doc_id"]), r["query_id"]) for r in res2.matches.collect()}
        res2.unpersist()
    finally:
        batch.unpersist()
    assert got == got2 and got


@pytest.mark.parametrize("fields", [None, {"text": "content", "lang": "lang"}])
def test_join_verify_equivalent_to_python_lane(spark, fields):
    reg = _registry(99, 60)
    batch = synth_corpus(spark, 1500, partitions=4).persist()
    batch.count()
    try:
        off = _matches(spark, batch, reg, "off", fields)
        force = _matches(spark, batch, reg, "force", fields)
    finally:
        batch.unpersist()
    assert force == off
    assert off  # non-vacuous: the corpus produces matches


def test_join_verify_auto_guard_rejects_hot_ungated_volume(spark, monkeypatch):
    """A tiny batch with a huge selective registry (the reference's 225k
    shape in miniature) must NOT pick the ungated join: jv_est (sum of df
    over all query terms) far exceeds batch_terms + gated candidates."""
    monkeypatch.setattr(percolate_mod, "_JV_MAX_RATIO", 0.0)  # force-reject in auto
    reg = _registry(7, 40)
    batch = synth_corpus(spark, 500, partitions=2).persist()
    batch.count()
    try:
        auto = _matches(spark, batch, reg, "auto", None)
        off = _matches(spark, batch, reg, "off", None)
    finally:
        batch.unpersist()
    assert auto == off


def test_batch_plan_cache_reuse_across_batches(spark):
    """Second percolate with the SAME registry must reuse the cached plan
    artifacts (no stats probe / bt_count jobs) and still produce exactly
    the fresh-registry results on a DIFFERENT batch — stale df stats may
    only degrade gate choice, never results."""
    reg = _registry(31, 40)
    b1 = synth_corpus(spark, 600, partitions=2).persist()
    b2 = synth_corpus(spark, 900, partitions=2).persist()
    b1.count(); b2.count()
    try:
        res1 = percolate(spark, b1, reg)
        got1 = {(int(r["doc_id"]), r["query_id"]) for r in res1.matches.collect()}
        res1.unpersist()
        plan_before = reg._batch_plan_cache[1]
        assert isinstance(plan_before, BatchPlan)
        res2 = percolate(spark, b2, reg)
        got2 = {(int(r["doc_id"]), r["query_id"]) for r in res2.matches.collect()}
        res2.unpersist()
        assert reg._batch_plan_cache[1] is plan_before  # cache HIT

        fresh = _registry(31, 40)  # identical queries, cold cache
        res3 = percolate(spark, b2, fresh)
        got3 = {(int(r["doc_id"]), r["query_id"]) for r in res3.matches.collect()}
        res3.unpersist()
    finally:
        b1.unpersist(); b2.unpersist()
    assert got2 == got3
    assert got1 and got2  # non-vacuous


def test_warmup_with_sample_prebuilds_plan_cache(spark):
    """warmup(sample=...) runs one percolation over the sample, leaving
    the batch-plan cache hot: the first real batch must HIT it (identical
    BatchPlan object) and produce the same matches as a cold registry."""
    reg = _registry(11, 30)
    sample = synth_corpus(spark, 200, partitions=2)
    reg.warmup(spark, sample=sample)
    plan = reg._batch_plan_cache[1]
    assert isinstance(plan, BatchPlan)
    batch = synth_corpus(spark, 800, partitions=2).persist()
    batch.count()
    try:
        res = percolate(spark, batch, reg)
        got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
        res.unpersist()
        assert reg._batch_plan_cache[1] is plan  # warm plan reused
        cold = _registry(11, 30)
        res2 = percolate(spark, batch, cold)
        got2 = {(int(r["doc_id"]), r["query_id"]) for r in res2.matches.collect()}
        res2.unpersist()
    finally:
        batch.unpersist()
    assert got == got2 and got


def test_bt_prune_cache_not_poisoned_by_off_mode(spark):
    """The batch_terms prune closure includes jv expansion patterns, which
    are EMPTY under EBP_SIMPLE_JOIN_VERIFY=off. A prune set cached by an
    off-mode call must NOT be reused by a later force-mode call on the
    same registry — that dropped a forbidden wildcard's tokens from
    batch_terms and silently lost the exclusion (superset matches)."""
    reg = CompiledRegistry.from_rows([
        ("q", {"bool": {"must": [{"term": {"text": "transport"}}],
                        "must_not": [{"wildcard": {"text": "if*"}}]}}),
    ])
    batch = synth_corpus(spark, 1500, partitions=4).persist()
    batch.count()
    try:
        off = _matches(spark, batch, reg, "off", None)
        force = _matches(spark, batch, reg, "force", None)
    finally:
        batch.unpersist()
    assert force == off
    assert off  # non-vacuous


def test_space_bearing_term_value_rejected_and_guarded(spark):
    """ALIASING INVARIANT at _GRAM_FCOL_OFF: jv token atoms and n-gram
    streams share one smallint fcol space (fc vs fc + 64*(n-1)), which is
    safe only because token VALUES never contain spaces. Two layers enforce
    it: (1) the compiler rejects a Term whose value analyzes to more than
    one token, so a space-bearing value can never be registered; (2) if one
    ever reached the planner anyway, _jv_structs routes the whole query to
    the python lane on ANY column (defense in depth — on fcol >= 64 the
    atom would otherwise share a join key with an n-gram stream)."""
    from elasticsearch_batch_percolator_spark.operators.percolate import (
        _jv_structs,
    )
    from elasticsearch_batch_percolator_spark.plans.compiler import (
        QueryParseError,
    )

    with pytest.raises(QueryParseError):
        CompiledRegistry.from_rows([("sp", {"term": {"text": "the fast"}})])

    reg = CompiledRegistry.from_rows([
        ("sp", {"bool": {"must": [{"term": {"text": "kernel"}},
                                  {"term": {"text": "merge"}}]}}),
        ("ok", {"bool": {"must": [{"term": {"text": "merge"}},
                                  {"term": {"text": "thread"}}]}}),
    ])
    atoms = dict(reg.jv_verify_atoms())
    assert "sp" in atoms and "ok" in atoms  # both jv-eligible as written
    # inject a space-bearing token atom past the compiler (layer-2 seam),
    # on a column index >= _GRAM_FCOL_OFF where aliasing would bite
    atoms["sp"] = (
        (("t", "text", "the fast"), ("t", "text", "merge")),
        (),
    )
    reg.jv_verify_atoms = lambda: atoms
    specs, _, _ = _jv_structs(
        reg, {"text": "text"}, {"text": 70}, set(), set(), ["text"]
    )
    assert "sp" not in specs  # routed to the python lane
    assert "ok" in specs  # non-vacuous: clean siblings stay jv


def test_est_q_equals_atom_df_reference():
    """The flat inlined jv cost-model pass (_est_q) must equal the per-atom
    reference (_atom_df) over every atom kind: token, n-gram (min-unigram
    bound), wildcard, wildcard-gram — on randomized stats dicts including
    absent keys."""
    import random

    from elasticsearch_batch_percolator_spark.operators.percolate import (
        _atom_df,
        _est_q,
        _jv_structs,
    )

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(300):
        k = i % 5
        if k == 0:
            rows.append((f"q{i}", {"bool": {"must": [
                {"term": {"content": t}} for t in rng.sample(vocab, 3)]}}))
        elif k == 1:
            rows.append((f"q{i}", {"phrase": {"field": "content",
                         "terms": rng.sample(vocab, rng.randint(2, 3))}}))
        elif k == 2:
            rows.append((f"q{i}", {"bool": {
                "must": [{"term": {"content": rng.choice(vocab)}}],
                "must_not": [{"term": {"content": rng.choice(vocab)}}]}}))
        elif k == 3:
            rows.append((f"q{i}", {"wildcard": {"content": rng.choice(vocab)[:2] + "*"}}))
        else:
            rows.append((f"q{i}", {"wildcard_phrase": {"field": "content",
                "producers": [{"term": {"content": rng.choice(vocab)}},
                              {"wildcard": {"content": rng.choice(vocab)[:2] + "*"}}]}}))
    reg = CompiledRegistry.from_rows(rows)
    specs, _, _ = _jv_structs(
        reg, {"content": "tokens"}, {"tokens": 0}, set(), set(), ["tokens"]
    )
    assert specs, "no jv-eligible queries — test is vacuous"
    kinds = {k for s in specs.values() for _, k, _ in s[2]}
    assert {"t"} < kinds, kinds  # several atom kinds exercised

    # randomized stats: some keys present, some absent (df defaults to 0)
    col_df = {}
    for w in vocab:
        if rng.random() < 0.7:
            col_df[(0, w)] = rng.randint(0, 500)
    jv_pat_df = {}
    for s in specs.values():
        for _qid, fc, n, _pre, like, _suf, _req in s[5]:
            if rng.random() < 0.6:
                jv_pat_df[(fc, like)] = rng.randint(0, 80)

    expected = {
        q: sum(_atom_df(fc, k, v, col_df, jv_pat_df) for fc, k, v in s[2])
        for q, s in specs.items()
    }
    assert _est_q(specs, col_df, jv_pat_df) == expected

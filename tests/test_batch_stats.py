"""Batch statistics carried across registry versions.

A registry mutation whose (fcol, term) keys and jv wildcard patterns the
replaced plan's ``BatchStats`` cover replans from them, token volume
included, with no Spark job; one that brings a new key probes its whole
closure on the current batch. The statistics steer gate choice and the
join-verify lane, never results.
"""

import random

from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import (
    BatchStats,
    percolate,
)
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from tests.test_index_jobs import _job_group

VOCAB = [f"w{i:02d}" for i in range(30)]


def _query(rng: random.Random) -> dict:
    """term, 2-term must, phrase, prefix wildcard or must_not."""
    kind = rng.randrange(5)
    if kind == 0:
        return {"term": {"content": rng.choice(VOCAB)}}
    if kind == 1:
        return {"bool": {"must": [{"term": {"content": t}}
                                  for t in rng.sample(VOCAB, 2)]}}
    if kind == 2:
        return {"phrase": {"field": "content", "terms": rng.sample(VOCAB, 2)}}
    if kind == 3:
        return {"wildcard": {"content": rng.choice(VOCAB)[:2] + "*"}}
    a, b = rng.sample(VOCAB, 2)
    return {"bool": {"must": [{"term": {"content": a}}],
                     "must_not": [{"term": {"content": b}}]}}


def _rows(seed: int, n: int) -> list[tuple[str, dict]]:
    rng = random.Random(seed)
    return [(f"q{i}", _query(rng)) for i in range(n)]


def _docs(spark, seed: int, start: int, n: int, extra: str = ""):
    rng = random.Random(seed)
    rows = [
        (d, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 12))))
        for d in range(start, start + n)
    ]
    if extra:
        rows[0] = (start, rows[0][1] + " " + extra)
    df = spark.createDataFrame(rows, "doc_id long, content string").persist()
    df.count()
    return df


def _matches(res) -> set:
    out = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    res.unpersist()
    return out


def _stats(reg) -> BatchStats:
    return reg._derived_cache["batch_plan"][1].stats


def _warm(spark, reg, seed=1):
    sample = _docs(spark, seed, 0, 60)
    reg.warmup(spark, sample=sample)
    sample.unpersist()


def test_churn_over_known_vocabulary_launches_no_job(spark):
    """Unregister 3 queries and register 3 whose every term, phrase and
    pattern the registry already holds: the replan launches no Spark job,
    and the matches equal a fresh registry's and the python lane's."""
    rows = _rows(7, 40)
    reg = CompiledRegistry.from_rows(rows)
    _warm(spark, reg)
    before = _stats(reg)
    for qid in ("q0", "q1", "q2"):
        reg.unregister(qid)
    # known vocabulary: copies of queries that stay registered
    for j, (_, body) in enumerate(rows[10:13]):
        reg.register(f"c{j}", body)
    batch = _docs(spark, 2, 1000, 150)
    sc = spark.sparkContext
    try:
        with _job_group(sc, "batch-stats-churn") as jobs:
            res = percolate(spark, batch, reg)
            launched = jobs()
        assert launched == 0
        after = _stats(reg)
        assert after is not before  # replanned, not reused
        assert after.token_volume == before.token_volume
        got = _matches(res)

        fresh = CompiledRegistry.from_rows(
            [(q, body) for q, body in rows[3:]]
            + [(f"c{j}", body) for j, (_, body) in enumerate(rows[10:13])]
        )
        want = _matches(percolate(spark, batch, fresh))
        saved = percolate_mod._JV_MODE
        percolate_mod._JV_MODE = "off"
        try:
            off = _matches(percolate(spark, batch, reg))
        finally:
            percolate_mod._JV_MODE = saved
    finally:
        batch.unpersist()
    assert got == want == off
    assert got  # non-vacuous


def test_new_term_reprobes_the_whole_closure_on_this_batch(spark, monkeypatch):
    """A query with a term no probe has seen makes the replan probe its
    whole closure once on the current batch: the plan's statistics then
    equal a fresh registry's on that batch, none carried from the warmup
    sample."""
    rows = _rows(8, 30)
    novel = {"term": {"content": "zqnovel"}}
    reg = CompiledRegistry.from_rows(rows)
    _warm(spark, reg)
    before = _stats(reg)
    probed_keys, probed_pats = [], []
    real_terms = percolate_mod._probe_terms
    real_pats = percolate_mod._probe_patterns

    def spy_terms(spark, batch_terms, keys):
        probed_keys.append(set(keys))
        return real_terms(spark, batch_terms, keys)

    def spy_pats(spark, batch_terms, pats):
        probed_pats.append(set(pats))
        return real_pats(spark, batch_terms, pats)

    monkeypatch.setattr(percolate_mod, "_probe_terms", spy_terms)
    monkeypatch.setattr(percolate_mod, "_probe_patterns", spy_pats)
    reg.register("novel", novel)
    batch = _docs(spark, 3, 2000, 80, extra="zqnovel")
    try:
        got = _matches(percolate(spark, batch, reg))
        after = _stats(reg)
        key = (0, "zqnovel")  # fields=None: one token column, fcol 0
        assert after.probed == before.probed | {key}
        assert probed_keys == [set(after.probed)]
        assert probed_pats == ([set(after.pat_probed)] if after.pat_probed else [])
        assert after.col_df[key] == 1
        assert (2000, "novel") in got

        fresh = CompiledRegistry.from_rows(rows + [("novel", novel)])
        _matches(percolate(spark, batch, fresh))
        cold = _stats(fresh)
    finally:
        batch.unpersist()
    assert after.token_volume is not None
    assert after.token_volume != before.token_volume  # re-measured
    assert (after.col_df, after.pat_df, after.token_volume) == (
        cold.col_df, cold.pat_df, cold.token_volume
    )


def test_layout_or_jv_mode_change_probes_from_cold(spark, monkeypatch):
    """A fields=None plan never seeds a fields={...} plan, and an "off"
    plan never seeds an "auto" plan; a same-key mutation does seed."""
    reg = CompiledRegistry.from_rows(_rows(9, 30))
    seeds = []
    real = percolate_mod._batch_stats

    def spy(*args):
        seeds.append(args[-1])
        return real(*args)

    monkeypatch.setattr(percolate_mod, "_batch_stats", spy)
    multi = {"content": "content"}
    batch = _docs(spark, 4, 0, 60)
    try:
        _matches(percolate(spark, batch, reg))  # cold
        reg.register("x1", {"term": {"content": "w01"}})
        _matches(percolate(spark, batch, reg, fields=multi))  # layout moved
        reg.register("x2", {"term": {"content": "w02"}})
        monkeypatch.setattr(percolate_mod, "_JV_MODE", "off")
        _matches(percolate(spark, batch, reg, fields=multi))  # jv mode moved
        reg.register("x3", {"term": {"content": "w03"}})
        monkeypatch.setattr(percolate_mod, "_JV_MODE", "auto")
        _matches(percolate(spark, batch, reg, fields=multi))  # off -> auto
        reg.register("x4", {"term": {"content": "w04"}})
        _matches(percolate(spark, batch, reg, fields=multi))  # only version
    finally:
        batch.unpersist()
    assert seeds[:4] == [None, None, None, None]
    assert isinstance(seeds[4], BatchStats)


def test_unregister_drops_keys_outside_the_closure(spark):
    reg = CompiledRegistry.from_rows(_rows(10, 30))
    reg.register("zt", {"term": {"content": "zqzebra"}})
    reg.register("zw", {"bool": {"must": [{"term": {"content": "w05"}}],
                                 "must_not": [{"wildcard": {"content": "zqz*"}}]}})
    batch = _docs(spark, 5, 0, 60, extra="zqzebra")
    try:
        _matches(percolate(spark, batch, reg))
        held = _stats(reg)
        assert (0, "zqzebra") in held.probed and (0, "zqzebra") in held.col_df
        assert (0, "zqz%") in held.pat_probed and (0, "zqz%") in held.pat_df
        reg.unregister("zt")
        reg.unregister("zw")
        _matches(percolate(spark, batch, reg))
    finally:
        batch.unpersist()
    after = _stats(reg)
    assert (0, "zqzebra") not in after.probed
    assert (0, "zqzebra") not in after.col_df
    assert (0, "zqz%") not in after.pat_probed
    assert (0, "zqz%") not in after.pat_df
    assert after.probed < held.probed

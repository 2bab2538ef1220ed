"""Index build + resume + index top-k rank-identity (SURVEY.md §5 items 4-5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import (
    build_index,
    read_manifest,
    read_term_stats,
)
from elasticsearch_batch_percolator_spark.operators.dsl_index import (
    _idf,
    _segment_topk,
    _Spec,
)
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.index.codec import decode_postings, encode_postings
from tests.util_oracle import segment_topk_exhaustive

QUERIES = {
    "q1": ["spark"],
    "q2": ["spark", "join"],
    "q3": ["the", "fox"],
    "q4": ["vector", "window", "batch"],
    "q5": ["zzz_missing"],
    "q6": ["merge", "sort", "hash", "join"],
}


@pytest.fixture(scope="module")
def index_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    eng = Engine.from_documents(spark, sf_dir)
    build_index(spark, eng.docs.select("doc_id", "tokens"), out, n_segments=4, lineage=sf_dir)
    return out


def test_manifest_and_stats(spark, index_dir, engine):
    m = read_manifest(index_dir)
    n, avgdl = engine.stats
    assert m.n_docs == n
    assert abs(m.avgdl - avgdl) < 1e-12
    assert len(m.completed) == 4
    assert all(v["terms"] > 0 for v in m.completed.values())
    # global df from index == df from the engine's stats path
    dfs = read_term_stats(spark, index_dir, ["spark", "the"])
    expected = {
        r["term"]: r["df"]
        for r in engine.dfreq.filter(F.col("term").isin(["spark", "the"])).collect()
    }
    assert dfs == expected


def test_rank_identity_vs_join_scorer(spark, index_dir, engine):
    """Index top-k must equal the always-correct join-based scorer."""
    got = topk_from_index(spark, index_dir, QUERIES, k=10)
    got_rows = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in got.collect()
    }
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in QUERIES.items() for t in ts],
        "query_id string, term string",
    )
    from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk

    exp = bm25_topk(engine.score(qdf), 10)
    exp_rows = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in exp.collect()
    }
    assert set(got_rows) == set(exp_rows)
    for key, (d, s) in got_rows.items():
        ed, es = exp_rows[key]
        assert d == ed, f"{key}: doc {d} != {ed}"
        assert abs(s - es) < 1e-9, f"{key}: score {s} != {es}"


def test_duplicate_query_terms_score_per_occurrence(spark, index_dir, engine):
    """A repeated literal query term weights by its multiplicity (Lucene
    BooleanQuery sums every clause): the index scorer must agree with
    the join scorer, which scores per (query_id, term) OCCURRENCE row.
    Mixed queries like [a, a, b] re-rank under qtf weighting, so this
    pins ordering, not just a uniform score scale."""
    queries = {
        "d1": ["spark", "spark"],
        "d2": ["spark", "spark", "join"],
        "d3": ["the", "the", "the", "fox"],
        "d4": ["merge", "sort", "merge", "hash", "join", "merge"],
    }
    got = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in topk_from_index(spark, index_dir, queries, k=10).collect()
    }
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in queries.items() for t in ts],
        "query_id string, term string",
    )
    from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk

    exp = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in bm25_topk(engine.score(qdf), 10).collect()
    }
    assert set(got) == set(exp)
    for key, (d, s) in got.items():
        ed, es = exp[key]
        assert d == ed, f"{key}: doc {d} != {ed}"
        assert abs(s - es) < 1e-9, f"{key}: score {s} != {es}"


def test_boost_weighted_scoring_rank_identity(spark, index_dir, engine):
    """Per-clause boost as a multiplicative term weight (round-5 item):
    contribution = boost * qtf * idf * norm, equal to the join scorer fed a ``w``
    column of qtf * boost per distinct (query, term). Boosts chosen to
    RE-RANK ('the' outweighing 'fox' only when boosted), so this pins
    ordering, not a uniform scale."""
    queries = {
        "b1": ["spark", "join"],
        "b2": ["the", "fox"],
        "b3": ["spark", "spark", "join"],  # qtf * boost together
        "b4": ["merge", "sort", "hash"],
    }
    boosts = {
        "b1": {"join": 3.0},
        "b2": {"the": 10.0, "fox": 0.5},
        "b3": {"spark": 2.0},
    }
    got = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in topk_from_index(
            spark, index_dir, queries, k=10, boosts=boosts
        ).collect()
    }
    from collections import Counter

    rows = []
    for qid, ts in queries.items():
        for t, qtf in Counter(ts).items():
            rows.append((qid, t, float(qtf) * boosts.get(qid, {}).get(t, 1.0)))
    qdf = spark.createDataFrame(rows, "query_id string, term string, w double")
    from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk

    exp = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in bm25_topk(engine.score(qdf), 10).collect()
    }
    assert set(got) == set(exp)
    for key, (d, s) in got.items():
        ed, es = exp[key]
        assert d == ed, f"{key}: doc {d} != {ed}"
        assert abs(s - es) < 1e-9, f"{key}: score {s} != {es}"


def test_wand_equals_exhaustive_random():
    """Property: the per-segment kernel (decode once, per-occurrence
    accumulation, rounded k-cut) equals the posting-by-posting exhaustive
    oracle on random postings, with repeated and boosted occurrences and
    with candidates restricted by a second gate group or by a gate alone
    (candidates no scoring term holds score 0.0)."""
    rng = np.random.default_rng(42)
    for trial in range(20):
        n_terms = rng.integers(1, 5)
        term_rows, idfs = {}, {}
        for t in range(n_terms):
            n_docs = int(rng.integers(1, 400))
            doc_ids = np.sort(rng.choice(5000, size=n_docs, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 20, n_docs).astype(np.int64)
            norms = rng.uniform(0.05, 2.2, n_docs)
            term_rows[f"t{t}"] = encode_postings(doc_ids, tfs, norms)
            idfs[f"t{t}"] = _idf(5000, n_docs)
        occ = [
            (str(t), float(rng.choice([1.0, 0.5, 3.0])))
            for t in rng.choice(sorted(term_rows), size=int(rng.integers(1, 6)))
        ]
        scored = sorted({t for t, _ in occ})
        weights = {t: sum(m * idfs[t] for u, m in occ if u == t) for t in scored}
        gate = str(rng.choice(sorted(term_rows)))

        def docs_of(terms):
            return {d for t in terms for d in decode_postings(term_rows[t])[0].tolist()}

        cases = [
            ([scored], None),
            ([scored, [gate]], docs_of(scored) & docs_of([gate])),
            ([[gate]], docs_of([gate])),
        ]
        for k in (1, 5, 50):
            for groups, cand in cases:
                got = _segment_topk(term_rows, {"q": _Spec(groups, occ)}, idfs, k)
                exp = segment_topk_exhaustive(
                    {t: term_rows[t] for t in scored}, weights, k, docs=cand
                )
                assert [d for _, d, _ in got] == [d for d, _ in exp], f"trial={trial} k={k}"
                assert np.allclose([s for _, _, s in got], [s for _, s in exp], atol=1e-12)


def test_resume_from_partial_build(spark, sf_dir, tmp_path):
    """Kill after 2 of 4 segments; resume; result identical to a clean build
    (north_rule: resumable from per-partition checkpoints)."""
    eng = Engine.from_documents(spark, sf_dir)
    docs = eng.docs.select("doc_id", "tokens")

    full_dir = str(tmp_path / "full")
    build_index(spark, docs, full_dir, n_segments=4)

    part_dir = str(tmp_path / "partial")
    m1 = build_index(spark, docs, part_dir, n_segments=4, fail_after_segments=2)
    assert len(m1.completed) == 2
    m2 = build_index(spark, docs, part_dir, n_segments=4)  # resume
    assert len(m2.completed) == 4
    assert m2.avgdl == m1.avgdl  # frozen stats
    # per-stage metrics persisted to the manifest (north_rule: tokenize/
    # merge/scoring metrics per stage): the resume ran encode+term-stats,
    # skipped corpus stats (frozen in the manifest from the first attempt)
    from elasticsearch_batch_percolator_spark.index.build import read_manifest

    sm = read_manifest(part_dir).stage_metrics
    assert sm["encode_merge_s"] > 0 and sm["term_stats_s"] > 0
    assert sm["docs_per_sec"] > 0 and sm["corpus_stats_s"] == 0.0

    a = topk_from_index(spark, full_dir, QUERIES, k=10).collect()
    b = topk_from_index(spark, part_dir, QUERIES, k=10).collect()
    norm = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_r"]) for r in rows
    )
    assert norm(a) == norm(b)


def test_sparse_doc_id_segmentation(spark, tmp_path):
    """Sparse id spaces cut on quantile boundaries, not arithmetic ranges —
    an id space 1000x wider than the row count must still fill every
    segment, and query results must be unchanged."""
    import random

    from elasticsearch_batch_percolator_spark.index.build import (
        build_index,
        read_manifest,
    )
    from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index

    rng = random.Random(3)
    ids = sorted(rng.sample(range(10_000_000), 400))
    rows = [(i, f"alpha beta gamma{n % 7} delta{n % 3}".split(" "))
            for n, i in enumerate(ids)]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    out = str(tmp_path / "sparse_idx")
    build_index(spark, docs, out, n_segments=8)
    m = read_manifest(out)
    assert len(m.boundaries) == 7
    per_seg = {
        int(s): v["postings"] for s, v in m.completed.items()
    }
    # every segment non-empty and roughly balanced (quantile cuts)
    assert len(per_seg) == 8
    assert min(per_seg.values()) > 0
    assert max(per_seg.values()) <= 4 * min(per_seg.values())
    # correctness: top-k equals the join-free expectation (alpha in all docs)
    got = topk_from_index(spark, out, {"q": ["alpha"]}, k=5)
    assert got.count() == 5


def test_local_kcut_rounding_tie_break():
    """The ADVICE r1 scenario: a doc cut locally by a sub-1e-4 raw-score
    margin that TIES after rounding must win on doc_id. The kernel and the
    oracle both rank their local cut on (rounded score, doc_id)."""
    # norms chosen so raw scores (idf=1 single term) are:
    # doc 5 -> 1.000044, doc 9 -> 1.000042, doc 2 -> 1.000035
    # rounded to 4 dp ALL become 1.0 -> the k=2 winners by doc_id are 2, 5
    docs = np.array([2, 5, 9], dtype=np.int64)
    tfs = np.array([1, 1, 1], dtype=np.int64)
    norms = np.array([1.000035, 1.000044, 1.000042])
    # dict-shaped posting rows are what the scorers consume
    tb = {"t": encode_postings(docs, tfs, norms)}
    idfs = {"t": 1.0}

    spec = {"q": _Spec([["t"]], [("t", 1.0)])}
    got_kernel = [d for _, d, _ in _segment_topk(tb, spec, idfs, 2, round_to=4)]
    got_exh = [d for d, _ in segment_topk_exhaustive(tb, idfs, 2, round_to=4)]
    assert got_kernel == [2, 5]
    assert got_exh == [2, 5]
    # sanity: WITHOUT rounding the raw order would have been 5, 9
    raw = [d for d, _ in segment_topk_exhaustive(tb, idfs, 2, round_to=None)]
    assert raw == [5, 9]

"""Rank-identity vs the COMMITTED oracle (FIXTURES.md §4, north_rule).

tests/data/oracle_topk_sf001.csv was generated once by the slow float64
Python reference scorer (tests/util_oracle.py) over the sf0.01 documents
fixture and is committed; both the join-based scorer and the index+WAND
path must reproduce its docIDs and BM25 scores rank-identically.
"""

import csv
import os

import pytest

ORACLE = os.path.join(os.path.dirname(__file__), "data", "oracle_topk_sf001.csv")
SF = "/root/testdata/sf0.01"

QUERIES = {
    "q-spark": ["spark"],
    "q-spark-join": ["spark", "join"],
    "q-the-fox": ["the", "fox"],
    "q-vwb": ["vector", "window", "batch"],
    "q-merge-sort": ["merge", "sort"],
    "q-hjg": ["hash", "join", "group"],
    "q-cust-order": ["customer", "order"],
    "q-stream-batch": ["stream", "batch"],
    "q-filter-query": ["filter", "query"],
    "q-tsm": ["table", "scan", "merge"],
}


@pytest.fixture(scope="module")
def expected():
    out = {}
    with open(ORACLE) as f:
        for row in csv.DictReader(f):
            out[(row["query_id"], int(row["rank"]))] = (
                int(row["doc_id"]),
                float(row["bm25"]),
            )
    assert len(out) == 100
    return out


def test_join_scorer_rank_identity(spark, expected):
    from elasticsearch_batch_percolator_spark.engine import Engine
    from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk

    eng = Engine.from_documents(spark, SF)
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in QUERIES.items() for t in ts],
        "query_id string, term string",
    )
    got = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in bm25_topk(eng.score(qdf), 10).collect()
    }
    assert set(got) == set(expected)
    for key, (d, s) in expected.items():
        gd, gs = got[key]
        assert gd == d, f"{key}: doc {gd} != oracle {d}"
        assert abs(gs - s) < 1e-9, f"{key}: score {gs} != oracle {s}"


def test_wand_rank_identity(spark, expected, tmp_path):
    from elasticsearch_batch_percolator_spark.engine import Engine
    from elasticsearch_batch_percolator_spark.index.build import build_index
    from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index

    eng = Engine.from_documents(spark, SF)
    idx = str(tmp_path / "idx")
    build_index(spark, eng.docs.select("doc_id", "tokens"), idx, n_segments=4)
    got = {
        (r["query_id"], r["rank"]): (int(r["doc_id"]), float(r["score"]))
        for r in topk_from_index(spark, idx, QUERIES, k=10).collect()
    }
    assert set(got) == set(expected)
    for key, (d, s) in expected.items():
        gd, gs = got[key]
        assert gd == d, f"{key}: doc {gd} != oracle {d}"
        assert abs(gs - s) < 1e-9, f"{key}: score {gs} != {s}"

"""Spark jobs per index call, and the small-batch append guard.

The index calls move little data, so their wall time is mostly fixed
per-job cost: a schema-inference job on every undeclared parquet read, a
pass per append statistic, an exchange per aggregate. These bounds pin the
job counts of one build, one append, one batch through each top-k front
end and one compaction on a small fixture.
"""

import contextlib

import numpy as np
from pyspark.sql import types as T

from elasticsearch_batch_percolator_spark.index.build import (
    append_index,
    build_index,
    compact_index,
    read_manifest,
)
from elasticsearch_batch_percolator_spark.operators.dsl_index import dsl_topk_from_index
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
    ]
)
VOCAB = ["w%02d" % i for i in range(40)]
TERM_QUERIES = {"a": ["w01", "w02"], "b": ["w0*", "w33"], "c": ["w05", "w05", "w17"]}
DSL_QUERIES = {
    "ph": {"match_phrase": {"content": "w01 w02"}},
    "wc": {"bool": {"must": [{"wildcard": {"content": "w1*"}}],
                    "must_not": [{"term": {"content": "w13"}}]}},
}


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rand_rows(seed, ids, length=None):
    rng = np.random.default_rng(seed)
    return [
        (int(d), [VOCAB[j] for j in rng.integers(0, len(VOCAB), length or rng.integers(1, 25))])
        for d in ids
    ]


@contextlib.contextmanager
def _job_group(sc, name):
    """Tag the jobs this thread launches; yields a callable counting them."""
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_index_calls_job_counts(spark, tmp_path):
    sc = spark.sparkContext
    idx = str(tmp_path / "ix")
    counts = {}
    with _job_group(sc, "ebp-test-jobs-build") as jobs:
        build_index(spark, _docs(spark, _rand_rows(1, range(300))), idx,
                    n_segments=4, positions=True)
        counts["build"] = jobs()
    with _job_group(sc, "ebp-test-jobs-append") as jobs:
        append_index(spark, _docs(spark, _rand_rows(2, range(1000, 1150))), idx,
                     n_new_segments=2)
        counts["append"] = jobs()
    with _job_group(sc, "ebp-test-jobs-topk") as jobs:
        assert topk_from_index(spark, idx, TERM_QUERIES, k=5).collect()
        counts["topk"] = jobs()
    with _job_group(sc, "ebp-test-jobs-dsl") as jobs:
        assert dsl_topk_from_index(spark, idx, DSL_QUERIES, k=5).collect()
        counts["dsl_topk"] = jobs()
    with _job_group(sc, "ebp-test-jobs-compact") as jobs:
        compact_index(spark, idx, str(tmp_path / "compacted"), target_segments=2)
        counts["compact"] = jobs()
    assert counts["build"] <= 8, counts
    assert counts["append"] <= 8, counts
    assert counts["topk"] <= 4, counts
    assert counts["dsl_topk"] <= 4, counts
    assert counts["compact"] <= 7, counts


def test_tiny_append_gets_one_segment_per_row(spark, tmp_path):
    """3 rows with n_new_segments=8: k = min(8, 3) segments, each holding a
    row, and the same top-k as building the index over every row at once.
    Every doc has the same length, so the appended docs leave avgdl (frozen
    at the base build) equal to the rebuild's, and scores must agree."""
    base = _rand_rows(3, range(200), length=12)
    new = _rand_rows(4, [5000, 5007, 5100], length=12)
    idx, full = str(tmp_path / "ix"), str(tmp_path / "full")
    build_index(spark, _docs(spark, base), idx, n_segments=2)
    m = append_index(spark, _docs(spark, new), idx, n_new_segments=8)
    assert m.n_segments == 5 and m.n_docs == 203
    assert [a["segments"] for a in m.stage_metrics["appends"]] == [[2, 3, 4]]
    assert all(m.completed[str(s)]["postings"] > 0 for s in (2, 3, 4))
    build_index(spark, _docs(spark, base + new), full, n_segments=2)
    assert read_manifest(full).avgdl == m.avgdl
    queries = {q: list(ts) for q, (_, ts) in zip("xyz", new)}

    def topk(path):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in topk_from_index(spark, path, queries, k=5).collect()
        )

    got = topk(idx)
    assert got == topk(full)
    assert {d for _, _, d, _ in got} >= {5000, 5007, 5100}

"""Segment compaction (the Lucene segment-merge analog).

``append_index`` grows segment count with every micro-batch;
``compact_index`` merges them back down at the posting level — no
retokenization, norms carried verbatim (they bake the avgdl frozen at the
base build), so top-k scores must be BIT-identical before and after, and
global term_stats (df/cf) invariant.
"""

import os

import numpy as np
import pytest
from pyspark.sql import types as T

from elasticsearch_batch_percolator_spark.index.build import (
    append_index,
    build_index,
    compact_index,
    read_manifest,
)
from elasticsearch_batch_percolator_spark.index.codec import (
    POSTING_COLUMNS,
    decode_postings,
    encode_postings,
)
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rand_rows(seed, ids, vocab_n=40):
    rng = np.random.default_rng(seed)
    vocab = ["w%02d" % i for i in range(vocab_n)]
    return [
        (int(d), [vocab[j] for j in rng.integers(0, vocab_n, rng.integers(1, 25))])
        for d in ids
    ]


def _topk_rows(spark, idx, queries, k=10):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in topk_from_index(spark, idx, queries, k=k).collect()
    )


def _term_stats(spark, idx):
    return {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(idx, "term_stats")).collect()
    }


def test_compact_scores_bit_identical(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    build_index(spark, _docs(spark, _rand_rows(1, range(0, 300))), src, n_segments=4)
    append_index(spark, _docs(spark, _rand_rows(2, range(1000, 1150))), src, n_new_segments=3)
    # second append whose doc range INTERLEAVES the first two — the merge
    # must re-sort doc runs, not just concatenate
    append_index(spark, _docs(spark, _rand_rows(3, range(400, 480))), src, n_new_segments=2)
    m_src = read_manifest(src)
    assert m_src.n_segments == 9

    queries = {"q1": ["w00", "w07"], "q2": ["w13"], "q3": ["w21", "w02", "w33"]}
    before = _topk_rows(spark, src, queries)
    stats_before = _term_stats(spark, src)

    m = compact_index(spark, src, dst, target_segments=2)
    assert m.n_segments == 2
    assert sorted(int(s) for s in m.completed) == [0, 1]
    assert m.n_docs == m_src.n_docs and m.avgdl == m_src.avgdl
    assert m.stage_metrics["compacted_from_segments"] == 9
    # every source segment landed in exactly one group
    merged_from = sorted(
        s for meta in m.completed.values() for s in meta["merged_from"]
    )
    assert merged_from == list(range(9))

    assert _topk_rows(spark, dst, queries) == before
    assert _term_stats(spark, dst) == stats_before
    # src untouched (compaction commits by writing dst, never mutates src)
    assert read_manifest(src).n_segments == 9


def _postings_rows(spark, idx):
    """(segment_id, term) -> posting row (df, cf and payload columns) as a dict."""
    return {
        (int(r["segment_id"]), r["term"]): {
            c: r[c] for c in ("df", "cf", *POSTING_COLUMNS)
        }
        for r in spark.read.parquet(os.path.join(idx, "postings")).collect()
    }


@pytest.mark.parametrize("positions", [False, True])
def test_compact_rows_equal_reference_codec(spark, tmp_path, positions):
    """Each compacted term's posting row equals per-term ``encode_postings``
    over its source postings: every source row decoded with
    ``decode_postings`` (positions split by its tfs), sorted by doc.
    Frequent terms hold more than 128 postings per merged segment."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    build_index(spark, _docs(spark, _rand_rows(21, range(0, 600, 2), vocab_n=12)), src,
                n_segments=3, positions=positions)
    append_index(spark, _docs(spark, _rand_rows(22, range(1000, 1120), vocab_n=12)), src,
                 n_new_segments=2)
    # interleaves the base build's doc range
    append_index(spark, _docs(spark, _rand_rows(23, range(1, 120, 2), vocab_n=12)), src,
                 n_new_segments=2)
    m = compact_index(spark, src, dst, target_segments=2)
    source, merged = _postings_rows(spark, src), _postings_rows(spark, dst)
    new_seg = {s: int(g) for g, meta in m.completed.items() for s in meta["merged_from"]}
    expected: dict = {}
    for (s, t), row in source.items():
        d, tf, nm = decode_postings(row)
        pos = np.split(np.asarray(row["positions"]), np.cumsum(tf)[:-1]) \
            if positions else [None] * len(d)
        expected.setdefault((new_seg[s], t), []).extend(zip(d, tf, nm, pos))
    assert set(merged) == set(expected)
    assert max(row["df"] for row in merged.values()) > 128
    for key, posts in expected.items():
        posts.sort(key=lambda p: p[0])
        doc, tf, nm = (np.array([p[i] for p in posts]) for i in range(3))
        flat = np.concatenate([p[3] for p in posts]) if positions else None
        want = encode_postings(doc, tf, nm, positions_flat=flat)
        got = merged[key]
        assert (got["df"], got["cf"]) == (want["df"], want["cf"]), key
        for c in POSTING_COLUMNS:
            if want[c] is None:
                assert got[c] is None, (key, c)
            else:
                assert np.asarray(got[c], want[c].dtype).tobytes() == want[c].tobytes(), (key, c)


def test_compact_positional_index_preserves_phrases(spark, tmp_path):
    from elasticsearch_batch_percolator_spark.operators.phrase_index import (
        phrase_docs_from_index,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = [(0, ["a", "b", "c"]), (1, ["b", "a"]), (2, ["a", "x", "b"])]
    build_index(spark, _docs(spark, base), src, n_segments=2, positions=True)
    append_index(spark, _docs(spark, [(100, ["x", "a", "b"]), (101, ["b", "b", "a"])]), src)
    m = compact_index(spark, src, dst, target_segments=1)
    assert m.positions is True
    for phrase, want in ([["a", "b"], [0, 100]], [["b", "a"], [1, 101]]):
        got = sorted(
            r["doc_id"] for r in phrase_docs_from_index(spark, dst, phrase).collect()
        )
        assert got == want, phrase


def test_compact_skewed_weights_keeps_groups_dense(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # tiny base segments followed by one HUGE append: a quota-only greedy
    # cut would dump everything into group 0 — the remaining-segments
    # guard must still produce `target` non-empty dense groups
    build_index(spark, _docs(spark, _rand_rows(4, range(0, 12))), src, n_segments=3)
    append_index(spark, _docs(spark, _rand_rows(5, range(1000, 1600))), src, n_new_segments=1)
    m = compact_index(spark, src, dst, target_segments=4)
    assert sorted(int(s) for s in m.completed) == [0, 1, 2, 3]
    assert all(meta["postings"] > 0 for meta in m.completed.values())


def test_compact_with_empty_source_segments(spark, tmp_path):
    """A segment whose docs all had zero tokens writes NO posting rows;
    its group must not leave a hole in the dst id space (a later append
    would collide with a live id). Groups size on non-empty segments."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # dense ids 0..99, seg_size=50: segment 1 (ids 50..99) is all empty
    rows = _rand_rows(9, range(0, 50)) + [(int(d), []) for d in range(50, 100)]
    build_index(spark, _docs(spark, rows), src, n_segments=2)
    # and an appended empty micro-batch segment in the middle of history
    append_index(spark, _docs(spark, [(200, [])]), src)
    append_index(spark, _docs(spark, _rand_rows(10, range(300, 340))), src)
    before = _topk_rows(spark, src, {"q": ["w01", "w05"]})

    m = compact_index(spark, src, dst, target_segments=3)
    # only 2 source segments have postings -> 2 dense groups, not 3
    assert sorted(int(s) for s in m.completed) == list(range(m.n_segments))
    assert all(meta["postings"] > 0 for meta in m.completed.values())
    assert _topk_rows(spark, dst, {"q": ["w01", "w05"]}) == before
    # append after compact: no id collision with the surviving groups
    append_index(spark, _docs(spark, _rand_rows(11, range(500, 520))), dst)
    got = _topk_rows(spark, dst, {"q": ["w01", "w05"]})
    assert got


def test_compact_requires_complete_index(spark, tmp_path):
    src = str(tmp_path / "src")
    build_index(
        spark, _docs(spark, _rand_rows(6, range(60))), src,
        n_segments=3, fail_after_segments=1,
    )
    with pytest.raises(ValueError, match="COMPLETE"):
        compact_index(spark, src, str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="manifest"):
        compact_index(spark, str(tmp_path / "nope"), str(tmp_path / "dst"))


def test_append_after_compact(spark, tmp_path):
    """A compacted index is a first-class index: appends keep working and
    the frozen scoring stats survive the src→dst→append chain."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows0 = _rand_rows(7, range(0, 200))
    build_index(spark, _docs(spark, rows0), src, n_segments=4)
    m0 = read_manifest(src)
    compact_index(spark, src, dst, target_segments=2)
    rows1 = _rand_rows(8, range(5000, 5100))
    m = append_index(spark, _docs(spark, rows1), dst, n_new_segments=2)
    assert m.n_segments == 4 and m.n_docs == 300
    assert m.avgdl == m0.avgdl  # still the base build's frozen avgdl
    got = _topk_rows(spark, dst, {"q": ["w01", "w05"]})
    assert got and any(d >= 5000 for _, _, d, _ in got)

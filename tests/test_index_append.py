"""Incremental segment append (the Lucene segment-add model).

New document micro-batches join a COMPLETE index as additional segments:
scoring stats (avgdl/k1/b/positions) stay frozen from the original
manifest (norms bake avgdl at encode time — per-append avgdl would make
scores incomparable across segments), while idf sees the updated n_docs,
exactly Lucene's collection-statistics behavior on segment add. Scores
are checked against an independent python oracle computing BM25 with the
FROZEN avgdl over the combined corpus.
"""

import math
import os
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_batch_percolator_spark.index.build import (
    append_index,
    build_index,
    read_manifest,
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


def _oracle_topk(all_docs, terms, frozen_avgdl, k=10):
    """BM25 with FROZEN avgdl (append contract) and live n/df."""
    n = len(all_docs)
    tfs = {d: Counter(t) for d, t in all_docs.items()}
    df = Counter()
    for c in tfs.values():
        for t in set(c):
            df[t] += 1
    out = {}
    for d, c in tfs.items():
        s = 0.0
        dl = sum(c.values())
        for t in set(terms):
            tf = c.get(t, 0)
            if not tf:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / frozen_avgdl))
        if s > 0:
            out[d] = s
    return sorted(out.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:k]


def test_append_scores_match_frozen_avgdl_oracle(spark, tmp_path):
    base_rows = _rand_rows(1, range(0, 300))
    new_rows = _rand_rows(2, range(1000, 1150))
    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, base_rows), out, n_segments=4)
    m0 = read_manifest(out)
    m = append_index(spark, _docs(spark, new_rows), out, n_new_segments=3)
    assert m.n_segments == 7 and m.n_docs == 450
    assert len(m.completed) == 7
    assert m.avgdl == m0.avgdl  # frozen
    assert m.stage_metrics["appends"][0]["rows"] == 150

    all_docs = {d: t for d, t in base_rows + new_rows}
    queries = {"q1": ["w00", "w07"], "q2": ["w13"], "q3": ["w21", "w02", "w33"]}
    got = topk_from_index(spark, out, queries, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, terms in queries.items():
        exp = _oracle_topk(all_docs, terms, m0.avgdl, k=10)
        rows = sorted(by_q[qid])
        assert [d for _, d, _ in rows] == [d for d, _ in exp], qid
        for (_, _, s), (_, es) in zip(rows, exp):
            assert abs(s - es) < 1e-9
    # appended docs actually appear in results (not just old corpus)
    assert any(d >= 1000 for rows in by_q.values() for _, d, _ in rows)


def test_append_term_stats_incremental_merge_equals_full_rebuild(spark, tmp_path):
    """Appends refresh term_stats by merging ONLY the new segments' stats
    into the existing dictionary (O(batch + dict), not O(all postings));
    the result must equal the from-scratch rebuild."""
    from elasticsearch_batch_percolator_spark.index.build import (
        _finalize_term_stats,
    )

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(20, range(0, 150))), out, n_segments=3)
    append_index(spark, _docs(spark, _rand_rows(21, range(1000, 1080))), out, n_new_segments=2)
    append_index(spark, _docs(spark, _rand_rows(22, range(2000, 2040))), out, n_new_segments=2)
    merged = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "term_stats")).collect()
    }
    _finalize_term_stats(spark, out, read_manifest(out))  # full rebuild
    full = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "term_stats")).collect()
    }
    assert merged == full and merged


def test_append_replay_does_not_double_count_term_stats(spark, tmp_path):
    """Crash window: the merged term_stats swapped in but the manifest
    save never happened. The replayed append must NOT merge the same
    segments' stats twice — the _segments.json inclusion marker (written
    atomically inside the swapped dir) makes the merge idempotent."""
    import copy

    from elasticsearch_batch_percolator_spark.index.build import (
        _finalize_term_stats,
    )

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(26, range(0, 120))), out, n_segments=3)
    pre = copy.deepcopy(read_manifest(out))
    rows = _rand_rows(27, range(1000, 1060))
    append_index(spark, _docs(spark, rows), out, n_new_segments=2)
    # simulate the crash: roll the manifest back to its pre-append state
    # (postings + term_stats keep the completed append's output)
    pre.save(out)
    append_index(spark, _docs(spark, rows), out, n_new_segments=2)
    merged = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "term_stats")).collect()
    }
    _finalize_term_stats(spark, out, read_manifest(out))
    full = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(out, "term_stats")).collect()
    }
    assert merged == full
    assert read_manifest(out).n_docs == 180


def test_append_rerun_clears_stale_partition(spark, tmp_path):
    """A crashed append's partition for a segment id the re-run leaves
    empty must not survive (approxQuantile cuts are not guaranteed
    identical between runs): append pre-clears its target ids."""
    import shutil

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(23, range(0, 40))), out, n_segments=2)
    # simulate the crashed attempt: a stale partition already at id 2
    post = os.path.join(out, "postings")
    shutil.copytree(
        os.path.join(post, "segment_id=0"), os.path.join(post, "segment_id=2")
    )
    # re-run appends ONE doc -> k=1 -> only id 2 written; the stale rows
    # (a full copy of segment 0, duplicating its docs) must be gone
    append_index(spark, _docs(spark, [(100, ["zz_unique_term"])]), out)
    rows = (
        spark.read.parquet(post)
        .filter("segment_id = 2")
        .select("term")
        .collect()
    )
    assert [r["term"] for r in rows] == ["zz_unique_term"]


def test_build_restores_overwrite_mode_conf(spark, tmp_path):
    """The index writers flip partitionOverwriteMode to dynamic for their
    own write but must restore the session's prior value — leaving it on
    would silently change the user's own partitioned overwrites."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "static")
        out = str(tmp_path / "ix")
        build_index(spark, _docs(spark, _rand_rows(24, range(30))), out, n_segments=2)
        assert spark.conf.get(key).lower() == "static"
        append_index(spark, _docs(spark, _rand_rows(25, range(100, 120))), out)
        assert spark.conf.get(key).lower() == "static"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_append_requires_complete_index(spark, tmp_path):
    out = str(tmp_path / "ix")
    build_index(
        spark, _docs(spark, _rand_rows(3, range(60))), out,
        n_segments=3, fail_after_segments=1,
    )
    with pytest.raises(ValueError, match="COMPLETE"):
        append_index(spark, _docs(spark, _rand_rows(4, range(100, 120))), out)
    with pytest.raises(ValueError, match="manifest"):
        append_index(
            spark, _docs(spark, _rand_rows(4, range(100, 120))),
            str(tmp_path / "nope"),
        )


def test_append_empty_batch_is_noop(spark, tmp_path):
    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(5, range(50))), out, n_segments=2)
    m = append_index(spark, _docs(spark, []), out)
    assert m.n_segments == 2 and m.n_docs == 50


def test_append_preserves_positions_choice(spark, tmp_path):
    from elasticsearch_batch_percolator_spark.operators.phrase_index import (
        phrase_docs_from_index,
    )

    out = str(tmp_path / "ix")
    base = [(0, ["a", "b", "c"]), (1, ["b", "a"])]
    build_index(spark, _docs(spark, base), out, n_segments=1, positions=True)
    # append WITHOUT asking for positions: the manifest's frozen choice wins
    append_index(spark, _docs(spark, [(100, ["x", "a", "b"])]), out)
    got = sorted(
        r["doc_id"] for r in phrase_docs_from_index(spark, out, ["a", "b"]).collect()
    )
    assert got == [0, 100]


def test_resume_keeps_frozen_positions(spark, tmp_path):
    """A resume called with a DIFFERENT positions flag must not mix segment
    layouts — the manifest's frozen choice wins."""
    out = str(tmp_path / "ix")
    rows = _rand_rows(6, range(80))
    build_index(
        spark, _docs(spark, rows), out,
        n_segments=4, positions=True, fail_after_segments=2,
    )
    build_index(spark, _docs(spark, rows), out, n_segments=4)  # no positions arg
    pdf = spark.read.parquet(os.path.join(out, "postings")).toPandas()
    assert set(pdf["segment_id"]) == {0, 1, 2, 3}
    assert pdf["positions"].notna().all()


def test_append_rerun_clears_orphaned_higher_ids(spark, tmp_path):
    """A crashed append may have written MORE segments than the re-run's
    k (a different n_new_segments or a smaller batch) and may have swapped
    term_stats before dying pre-manifest-save: the re-run must clear EVERY
    on-disk id >= the committed count — not just its own targets — and
    rebuild the tainted dictionary, or the orphans serve docs twice."""
    import json
    import shutil

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(26, range(0, 40))), out, n_segments=2)
    post = os.path.join(out, "postings")
    # crashed attempt: segments 2..5 on disk (copies of segment 0), and a
    # term_stats inclusion marker already claiming them
    for sid in (2, 3, 4, 5):
        shutil.copytree(
            os.path.join(post, "segment_id=0"),
            os.path.join(post, f"segment_id={sid}"),
        )
    with open(os.path.join(out, "term_stats", "_segments.json"), "w") as f:
        json.dump([0, 1, 2, 3, 4, 5], f)
    # the re-run computes k=2: ids 2..3 are its targets; 4..5 are orphans
    # only the committed-count sweep catches
    m = append_index(
        spark,
        _docs(spark, [(100, ["zz_uniq_a"]), (101, ["zz_uniq_b"])]),
        out,
        n_new_segments=2,
    )
    assert m.n_segments == 4
    df = spark.read.parquet(post)
    assert df.filter("segment_id >= 4").count() == 0
    new_terms = {
        r["term"] for r in df.filter("segment_id >= 2").select("term").collect()
    }
    assert new_terms == {"zz_uniq_a", "zz_uniq_b"}
    # the tainted dictionary was rebuilt consistent with the clean postings
    ts = {
        (r["term"], r["df"])
        for r in spark.read.parquet(os.path.join(out, "term_stats"))
        .select("term", "df")
        .collect()
    }
    agg = {
        (r["term"], r["df"])
        for r in df.groupBy("term").agg(F.sum("df").cast("long").alias("df")).collect()
    }
    assert ts == agg


@pytest.mark.parametrize("crash_at", ["before_stats_merge", "after_stats_swap"])
def test_append_crash_then_rerun_converges(spark, tmp_path, crash_at, monkeypatch):
    """Inject a crash at each append commit window — (a) postings written,
    dictionary not yet merged; (b) dictionary swapped, manifest not yet
    saved — then re-run with a DIFFERENT segment count. The re-run must
    converge to exactly the index a never-crashed append produces
    (postings aggregate, term_stats, manifest counts): the exactly-once
    story an incremental 100 TB ingest depends on."""
    import elasticsearch_batch_percolator_spark.index.build as B

    rows0 = _rand_rows(30, range(0, 40))
    batch = _rand_rows(31, range(100, 130))
    # reference: clean build + append, no crash
    ref = str(tmp_path / "ref")
    build_index(spark, _docs(spark, rows0), ref, n_segments=2)
    append_index(spark, _docs(spark, batch), ref, n_new_segments=3)

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, rows0), out, n_segments=2)
    if crash_at == "before_stats_merge":
        orig = B._merge_term_stats
        monkeypatch.setattr(
            B, "_merge_term_stats",
            lambda *a, **k: (_ for _ in ()).throw(RuntimeError("injected")),
        )
        with pytest.raises(RuntimeError, match="injected"):
            # k=5: the crashed attempt leaves ids 2..6 on disk
            append_index(spark, _docs(spark, batch), out, n_new_segments=5)
        monkeypatch.setattr(B, "_merge_term_stats", orig)
    else:
        orig_save = B.IndexManifest.save
        monkeypatch.setattr(
            B.IndexManifest, "save",
            lambda self, *a, **k: (_ for _ in ()).throw(RuntimeError("injected")),
        )
        with pytest.raises(RuntimeError, match="injected"):
            append_index(spark, _docs(spark, batch), out, n_new_segments=5)
        monkeypatch.setattr(B.IndexManifest, "save", orig_save)

    # the recovery re-run uses the reference's segment count
    m = append_index(spark, _docs(spark, batch), out, n_new_segments=3)
    m_ref = read_manifest(ref)
    assert (m.n_segments, m.n_docs) == (m_ref.n_segments, m_ref.n_docs)

    def _agg(path):
        return {
            (r["term"], r["df"], r["cf"])
            for r in spark.read.parquet(os.path.join(path, "postings"))
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("cf").cast("long").alias("cf"),
            )
            .collect()
        }

    def _ts(path):
        return {
            (r["term"], r["df"], r["cf"])
            for r in spark.read.parquet(os.path.join(path, "term_stats"))
            .select("term", "df", "cf")
            .collect()
        }

    assert _agg(out) == _agg(ref)
    assert _ts(out) == _ts(ref)
    assert _ts(out) == _agg(out)  # dictionary consistent with postings


def test_term_stats_swap_crash_between_renames_recovers(spark, tmp_path):
    """The two-rename term_stats swap has a microsecond window where the
    live dictionary is parked at `.old`: a crash there must be healed by
    the next append (restore `.old`, re-merge idempotently) and converge
    to the full-rebuild dictionary."""
    from elasticsearch_batch_percolator_spark.index.build import (
        _finalize_term_stats,
    )

    out = str(tmp_path / "ix")
    build_index(spark, _docs(spark, _rand_rows(31, range(0, 120))), out, n_segments=3)
    rows = _rand_rows(32, range(1000, 1060))
    append_index(spark, _docs(spark, rows), out, n_new_segments=2)
    # simulate a crash caught between rename(stats, old) and
    # rename(tmp, stats) DURING a later append: stats missing, .old live
    stats = os.path.join(out, "term_stats")
    os.rename(stats, stats + ".old")
    rows2 = _rand_rows(33, range(2000, 2040))
    append_index(spark, _docs(spark, rows2), out, n_new_segments=1)
    assert not os.path.exists(stats + ".old")
    merged = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(stats).collect()
    }
    _finalize_term_stats(spark, out, read_manifest(out))
    full = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(stats).collect()
    }
    assert merged == full and merged

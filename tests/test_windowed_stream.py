"""Windowed watermarked percolation counts: batch-mode equivalence vs the
full percolation engine, and a real Structured Streaming run with
watermark-driven window close + late-data drop."""

import time

import pytest
from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.streaming.windowed import (
    windowed_match_counts,
)

QUERIES = {
    "q-term": {"term": {"content": "fox"}},
    "q-bool": {"bool": {"must": [{"term": {"content": "the"}},
                                  {"term": {"content": "fox"}}]}},
    "q-phrase": {"phrase": {"field": "content", "terms": ["the", "fox"]}},
    "q-not": {"bool": {"must": [{"term": {"content": "wolf"}}],
                       "must_not": [{"term": {"content": "fox"}}]}},
    "q-all": {"match_all": {}},
}

DOCS = [
    (0, "the fox is here"),
    (1, "fox the run"),          # q-term/q-bool yes, q-phrase no
    (2, "a wolf at night"),      # q-not yes
    (3, "wolf meets the fox"),   # q-not no (fox present)
    (4, "nothing relevant"),
]


def _docs_df(spark, minute_of):
    rows = [
        (i, c, f"2026-01-01 00:{minute_of(i):02d}:00") for i, c in DOCS
    ]
    return spark.createDataFrame(
        rows, "doc_id long, content string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


def test_windowed_counts_match_percolate_ground_truth(spark):
    reg = CompiledRegistry.from_rows(list(QUERIES.items()))
    docs = _docs_df(spark, lambda i: i * 7)  # windows: 0-10, 10-20, 20-30
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None
    )
    got = {
        (r["window_start"].minute, r["query_id"]): r["n_docs"]
        for r in out.collect()
    }

    res = percolate(spark, docs.drop("ts"), reg)
    truth = {}
    for r in res.matches.collect():
        minute = (r["doc_id"] * 7 // 10) * 10
        key = (minute, r["query_id"])
        truth[key] = truth.get(key, 0) + 1
    res.unpersist()
    assert got == truth
    assert got  # non-vacuous


def test_windowed_counts_randomized_vs_python_model(spark):
    """Randomized registries (terms / conjunctions / 2-term phrases /
    must_not / match_all) over random short docs with random minute
    timestamps, checked against a direct python evaluation."""
    import random

    rng = random.Random(1234)
    vocab = list("abcdefgh")
    docs = []
    for i in range(300):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
        docs.append((i, " ".join(toks), rng.randint(0, 59)))
    qs = {}
    for j in range(40):
        kind = j % 5
        if kind == 0:
            qs[f"q{j}"] = {"term": {"content": rng.choice(vocab)}}
        elif kind == 1:
            qs[f"q{j}"] = {"bool": {"must": [
                {"term": {"content": rng.choice(vocab)}},
                {"term": {"content": rng.choice(vocab)}}]}}
        elif kind == 2:
            qs[f"q{j}"] = {"phrase": {"field": "content",
                                      "terms": [rng.choice(vocab), rng.choice(vocab)]}}
        elif kind == 3:
            qs[f"q{j}"] = {"bool": {"must": [{"term": {"content": rng.choice(vocab)}}],
                                    "must_not": [{"term": {"content": rng.choice(vocab)}}]}}
        else:
            qs[f"q{j}"] = {"match_all": {}}
    reg = CompiledRegistry.from_rows(list(qs.items()))

    df = spark.createDataFrame(
        [(i, c, f"2026-02-01 00:{m:02d}:30") for i, c, m in docs],
        "doc_id long, content string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = windowed_match_counts(
        spark, df, reg, window_duration="10 minutes", watermark=None
    )
    got = {(r["window_start"].minute, r["query_id"]): r["n_docs"]
           for r in out.collect()}

    def matches(qd, toks):
        if "match_all" in qd:
            return True
        if "term" in qd:
            return list(qd["term"].values())[0] in toks
        if "phrase" in qd:
            t = qd["phrase"]["terms"]
            return any(toks[i:i + 2] == t for i in range(len(toks) - 1))
        b = qd["bool"]
        return all(matches(c, toks) for c in b.get("must", [])) and not any(
            matches(c, toks) for c in b.get("must_not", [])
        )

    truth: dict = {}
    for i, c, m in docs:
        toks = c.split()
        for qid, qd in qs.items():
            if matches(qd, toks):
                key = (m // 10 * 10, qid)
                truth[key] = truth.get(key, 0) + 1
    assert got == truth
    assert got


@pytest.mark.parametrize("compile_on", ["driver", "distributed"])
def test_windowed_hybrid_randomized_vs_eval_plan(spark, compile_on):
    """Randomized registries spanning BOTH lanes — atom-stream shapes plus
    hybrid-only shapes (must_not-only bools, wildcards, span_near, sloppy
    phrases) and duplicate doc events — checked against eval_plan on the
    compiled plans (the engine's own reference evaluator, itself pinned by
    the Lucene goldens). The distributed registry is blob-backed: its
    executor-pickled plans and precomputed field sets reach the hybrid
    lane's broadcast without a driver-side compile."""
    import json
    import random

    from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan

    rng = random.Random(987)
    vocab = list("abcdefgh")
    docs = []
    for i in range(250):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
        docs.append((i, " ".join(toks), rng.randint(0, 29)))
    # duplicate events: same doc_id re-emitted in the SAME window
    dups = [(i, c, m) for i, c, m in docs[:25]]
    qs = {}
    for j in range(36):
        kind = j % 6
        if kind == 0:
            qs[f"q{j}"] = {"term": {"content": rng.choice(vocab)}}
        elif kind == 1:
            qs[f"q{j}"] = {"bool": {"must": [
                {"term": {"content": rng.choice(vocab)}},
                {"term": {"content": rng.choice(vocab)}}]}}
        elif kind == 2:
            qs[f"q{j}"] = {"bool": {"must_not": [
                {"term": {"content": rng.choice(vocab)}}]}}  # all-docs + verify
        elif kind == 3:
            qs[f"q{j}"] = {"wildcard": {"content": rng.choice(vocab) + "*"}}
        elif kind == 4:
            qs[f"q{j}"] = {"span_near": {"clauses": [
                {"span_term": {"content": rng.choice(vocab)}},
                {"span_term": {"content": rng.choice(vocab)}}],
                "slop": rng.randint(0, 2), "in_order": rng.choice([True, False])}}
        else:
            qs[f"q{j}"] = {"phrase": {"field": "content",
                                      "terms": [rng.choice(vocab), rng.choice(vocab)],
                                      "slop": rng.randint(1, 2)}}
    if compile_on == "driver":
        reg = CompiledRegistry.from_rows(list(qs.items()))
    else:
        qdf = spark.createDataFrame(
            [(q, json.dumps(d)) for q, d in qs.items()],
            "query_id string, query_json string",
        ).repartition(4)
        reg = CompiledRegistry.from_df(qdf, distributed=True)
        assert all(cq.plan_blob is not None for cq in reg.queries.values())

    df = spark.createDataFrame(
        [(i, c, f"2026-02-02 00:{m:02d}:30") for i, c, m in docs + dups],
        "doc_id long, content string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = windowed_match_counts(
        spark, df, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    got = {(r["window_start"].minute, r["query_id"]): r["n_docs"]
           for r in out.collect()}

    truth: dict = {}
    for i, c, m in docs:  # dups add no NEW (window, doc) pairs
        toks = c.split()
        for qid in qs:
            if eval_plan(reg.queries[qid].plan, {"content": toks}):
                key = (m // 10 * 10, qid)
                truth[key] = truth.get(key, 0) + 1
    assert got == truth
    assert got


def test_windowed_unsupported_raises(spark):
    reg = CompiledRegistry.from_rows([("w", {"wildcard": {"content": "fo*"}})])
    docs = _docs_df(spark, lambda i: 0)
    with pytest.raises(ValueError, match="unsupported"):
        windowed_match_counts(spark, docs, reg)
    out = windowed_match_counts(spark, docs, reg, skip_unsupported=True)
    assert out.count() == 0


def test_windowed_constrained_alldocs_not_counted_as_matchall(spark):
    """An unfilterable-but-CONSTRAINED query (must_not-only bool) is an
    all-docs CANDIDATE in batch percolate but still verifies — the
    windowed plan must not count it for every event. It is unsupported
    without hybrid (loud), and evaluates exactly through the hybrid
    python lane."""
    reg = CompiledRegistry.from_rows([
        ("neg", {"bool": {"must_not": [{"term": {"content": "fox"}}]}}),
        ("all", {"match_all": {}}),
    ])
    docs = _docs_df(spark, lambda i: 0)  # one window
    with pytest.raises(ValueError, match="unsupported"):
        windowed_match_counts(
            spark, docs, reg, window_duration="10 minutes", watermark=None
        )
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    got = {r["query_id"]: r["n_docs"] for r in out.collect()}
    # docs 2 and 4 lack 'fox'; match_all counts all 5
    assert got == {"neg": 2, "all": 5}
    # ground truth: batch percolate on the same registry
    truth = {}
    for r in percolate(spark, docs.drop("ts"), reg).matches.collect():
        truth[r["query_id"]] = truth.get(r["query_id"], 0) + 1
    assert got == truth


def test_windowed_hybrid_rejects_range_and_nested(spark):
    """Range/Nested plans need the full document row — the hybrid token
    lane would evaluate them silently-False, so they stay loud even under
    hybrid=True (and are skipped, not miscounted, with skip_unsupported)."""
    reg = CompiledRegistry.from_rows([
        ("t", {"term": {"content": "fox"}}),
        ("rng", {"bool": {"must": [{"term": {"content": "fox"}},
                                    {"range": {"field": "n", "gte": 1}}]}}),
    ])
    docs = _docs_df(spark, lambda i: 0).withColumn("n", F.lit(5))
    with pytest.raises(ValueError, match="range/nested"):
        windowed_match_counts(
            spark, docs, reg, window_duration="10 minutes", watermark=None,
            hybrid=True,
        )
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True, skip_unsupported=True,
    )
    got = {r["query_id"]: r["n_docs"] for r in out.collect()}
    assert got == {"t": 3}  # docs 0,1,3 contain 'fox'; rng skipped, not 5x


def test_windowed_stream_watermark_close_and_late_drop(spark, tmp_path):
    src, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    reg = CompiledRegistry.from_rows([("q-fox", {"term": {"content": "fox"}})])

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, content string, ts_s string"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").write.mode(
            "overwrite"
        ).parquet(str(src / name))

    write_batch("b0", [(1, "the fox", "2026-01-01 00:01:00"),
                       (2, "a fox too", "2026-01-01 00:02:00")])

    stream = spark.readStream.schema(
        "doc_id long, content string, ts timestamp"
    ).parquet(str(src / "*"))
    counts = windowed_match_counts(
        spark, stream, reg, window_duration="10 minutes", watermark="5 minutes"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time far past the first window + watermark -> the
        # 00:00-00:10 window closes and emits after this batch
        write_batch("b1", [(3, "future fox", "2026-01-01 01:00:00")])
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            q.processAllAvailable()
            try:
                rows = spark.read.parquet(str(out)).collect()
            except Exception:
                rows = []
            if rows:
                break
            time.sleep(0.5)
        # a LATE fox doc into the closed window arrives AFTER the watermark
        # advanced (watermark is updated from the PREVIOUS batch's max
        # event time) — append mode must drop it
        write_batch("b2", [(4, "late fox", "2026-01-01 00:03:00")])
        q.processAllAvailable()
        q.processAllAvailable()
        rows = spark.read.parquet(str(out)).collect()
    finally:
        q.stop()

    emitted = {(r["window_start"].hour, r["window_start"].minute): r["n_docs"]
               for r in rows}
    # first window emitted with the 2 on-time docs only (late doc dropped);
    # the 01:00 window is still open (no later event), so not emitted yet
    assert emitted == {(0, 0): 2}


def test_windowed_candidate_stream_is_slim(spark):
    """The atom explode must NOT carry the token/ngram arrays per generated
    row (the round-2 O(n_tokens²) blowup on code-file-sized docs): every
    Generate node retains only (ts, doc_id) scalars alongside the atom."""
    import re

    reg = CompiledRegistry.from_rows(list(QUERIES.items()))
    docs = _docs_df(spark, lambda i: i)
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    gen_lines = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen_lines  # the explodes exist
    for ln in gen_lines:
        # shape: Generate explode(<expr>), [<retained cols>], false, [<out>]
        m = re.search(r"\), \[([^\]]*)\], (?:false|true), \[", ln)
        assert m, ln
        retained = m.group(1)
        assert "tokens" not in retained, f"array carried through explode: {ln}"


def test_windowed_duplicate_doc_events_count_once(spark):
    """A doc_id emitted SEVERAL times within one window must count as ONE
    matched document per query (multi-atom conjunctions included) — the
    per-doc aggregate counts distinct satisfied need atoms, so repeated
    events merge instead of overshooting the req_hits == n_need check
    (round-3 ADVICE medium)."""
    reg = CompiledRegistry.from_rows(list(QUERIES.items()))
    rows = [
        # doc 0 emitted THREE times in the 00:00-00:10 window
        (0, "the fox is here", "2026-01-01 00:01:00"),
        (0, "the fox is here", "2026-01-01 00:03:00"),
        (0, "the fox is here", "2026-01-01 00:07:00"),
        # doc 1 emitted twice, matching q-not (wolf, no fox)
        (1, "a wolf at night", "2026-01-01 00:02:00"),
        (1, "a wolf at night", "2026-01-01 00:08:00"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None
    )
    got = {r["query_id"]: r["n_docs"] for r in out.collect()}
    # doc 0 matches q-term/q-bool/q-phrase/q-all once; doc 1 matches
    # q-not/q-all once => q-all sees both docs
    assert got == {
        "q-term": 1,
        "q-bool": 1,
        "q-phrase": 1,
        "q-not": 1,
        "q-all": 2,
    }


def test_windowed_hybrid_mixes_atom_and_python_lanes(spark):
    """hybrid=True: span_near / sloppy phrase / wildcard evaluate through
    the in-stream compiled-predicate UDF while term/phrase stay on the
    atom streams; ONE windowed count output, checked against a direct
    python model (round-4 VERDICT item 5)."""
    reg = CompiledRegistry.from_rows([
        ("s-term", {"term": {"content": "fox"}}),
        ("s-phrase", {"phrase": {"field": "content", "terms": ["the", "fox"]}}),
        ("u-span", {"span_near": {"clauses": [
            {"span_term": {"content": "wolf"}},
            {"span_term": {"content": "night"}}],
            "slop": 1, "in_order": True}}),
        ("u-sloppy", {"phrase": {"field": "content",
                                 "terms": ["fox", "the"], "slop": 2}}),
        ("u-wild", {"wildcard": {"content": "wo*"}}),
    ])
    docs = _docs_df(spark, lambda i: i * 7)
    # without hybrid: raises on the unsupported shapes
    with pytest.raises(ValueError):
        windowed_match_counts(
            spark, docs, reg, window_duration="10 minutes", watermark=None
        )
    out = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    got = {
        (r["window_start"].minute, r["query_id"]): r["n_docs"]
        for r in out.collect()
    }

    from elasticsearch_batch_percolator_spark.plans.compiler import compile_query
    from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan

    truth = {}
    for i, content in DOCS:
        toks = content.split()
        for qid, q in reg.queries.items():
            if eval_plan(q.plan, {"content": toks}):
                key = ((i * 7 // 10) * 10, qid)
                truth[key] = truth.get(key, 0) + 1
    assert got == truth
    assert any(q.startswith("u-") for _, q in got)  # python lane non-vacuous
    assert any(q.startswith("s-") for _, q in got)  # atom lane non-vacuous


def test_windowed_hybrid_streaming_run(spark, tmp_path):
    """The hybrid plan must run as a REAL stream: the compiled-predicate
    UDF sits before the stateful aggregate (streaming-legal), windows
    close under the watermark."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    reg = CompiledRegistry.from_rows([
        ("s-term", {"term": {"content": "fox"}}),
        ("u-sloppy", {"phrase": {"field": "content",
                                 "terms": ["fox", "the"], "slop": 2}}),
    ])
    schema = "doc_id long, content string, ts timestamp"

    def write_batch(name, rows):
        df = spark.createDataFrame(
            [(i, c, t) for i, c, t in rows], "doc_id long, content string, ts_s string"
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        df.coalesce(1).write.mode("append").parquet(str(src))

    write_batch("b0", [(0, "the fox runs", "2026-01-01 00:01:00"),
                       (1, "fox about the", "2026-01-01 00:02:00")])
    stream = spark.readStream.schema(schema).parquet(str(src))
    counts = windowed_match_counts(
        spark, stream, reg, window_duration="10 minutes",
        watermark="0 seconds", hybrid=True,
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark past the first window
        write_batch("b1", [(2, "nothing here", "2026-01-01 00:25:00")])
        q.processAllAvailable()
        q.processAllAvailable()
        rows = spark.read.parquet(str(out_dir)).collect()
    finally:
        q.stop()
    emitted = {(r["window_start"].minute, r["query_id"]): r["n_docs"] for r in rows}
    # both docs match s-term; doc 1 contains fox..the within slop 2 and
    # doc 0 "the fox" = transposition (cost 2) -> both match u-sloppy
    assert emitted[(0, "s-term")] == 2
    assert emitted[(0, "u-sloppy")] == 2


def test_empty_registry_preserves_streaming_mode(spark, tmp_path):
    """A registry contributing no lanes must still return a DataFrame in
    the INPUT's execution mode: a batch-made empty frame would fail a
    streaming caller's writeStream outright."""
    reg = CompiledRegistry.from_rows([])
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("doc_id"),
            F.lit("the fox").alias("content"),
        )
    )
    out = windowed_match_counts(spark, stream, reg)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "window_start", "window_end", "query_id", "n_docs",
    ]
    # and batch inputs stay batch
    docs = _docs_df(spark, lambda i: i)
    out_b = windowed_match_counts(spark, docs, reg)
    assert not out_b.isStreaming and out_b.count() == 0


def test_windowed_hybrid_broadcast_cached_per_registry_version(spark):
    """Rebuilding the windowed plan (driver restart / per-batch rebuild)
    must REUSE the unsupported-plan broadcast for an unchanged registry —
    one broadcast per call would accumulate for the app's lifetime — and
    must replace (unpersist) it when the registry version changes."""
    reg = CompiledRegistry.from_rows([
        ("s-term", {"term": {"content": "fox"}}),
        ("u-sloppy", {"phrase": {"field": "content",
                                 "terms": ["fox", "the"], "slop": 2}}),
    ])
    docs = _docs_df(spark, lambda i: i * 7)
    out1 = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    _, vp1 = reg._derived_cache["windowed_unsupported"]
    bc1, tok1 = vp1.bc, vp1.token
    out2 = windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    _, vp2 = reg._derived_cache["windowed_unsupported"]
    bc2, tok2 = vp2.bc, vp2.token
    assert bc2 is bc1 and tok2 == tok1  # reused, not re-broadcast
    assert out1.collect() and out2.collect()
    # a version bump invalidates: new broadcast, new worker token
    reg.version += 1
    windowed_match_counts(
        spark, docs, reg, window_duration="10 minutes", watermark=None,
        hybrid=True,
    )
    _, vp3 = reg._derived_cache["windowed_unsupported"]
    bc3, tok3 = vp3.bc, vp3.token
    assert bc3 is not bc1 and tok3 != tok1

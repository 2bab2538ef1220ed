"""Percolation runner: golden reference scenarios + randomized oracle check."""

import random

from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.operators.highlight import highlight_col
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import (
    CompiledRegistry,
    load_registry,
    save_registry,
)

VOCAB = list("abcdefgh")


def _run(spark, queries, docs):
    reg = CompiledRegistry.from_rows(list(queries.items()))
    docs_df = spark.createDataFrame(docs, "doc_id long, content string")
    res = percolate(spark, docs_df, reg)
    return res, {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}


def test_simple_percolation_golden(spark):
    """SimplePercolationTests.java:42-109."""
    queries = {
        "1": {"term": {"content": "b"}},
        "2": {"term": {"content": "c"}},
        "3": {"bool": {"must": [{"term": {"content": "b"}}, {"term": {"content": "c"}}]}},
        "4": {"match_all": {}},
    }
    _, got = _run(spark, queries, [(0, "b")])
    assert got == {(0, "1"), (0, "4")}
    _, got2 = _run(spark, queries, [(1, "b c")])
    assert got2 == {(1, "1"), (1, "2"), (1, "3"), (1, "4")}


def test_api_golden_with_highlights(spark):
    """APITests.java:190-247 — match counts {2,2,1} + highlight goldens."""
    queries = {
        "q-fox": {"term": {"content": "fox"}},
        "q-youscan": {"term": {"content": "youscan"}},
        "q-all": {"match_all": {}},
    }
    docs = [(1, "the fox is here"), (2, "youscan percolator"), (3, "bad wolf")]
    res, got = _run(spark, queries, docs)
    per_doc = {d: sum(1 for dd, _ in got if dd == d) for d in (1, 2, 3)}
    assert per_doc == {1: 2, 2: 2, 3: 1}

    reg = CompiledRegistry.from_rows(list(queries.items()))
    hl = (
        res.matches.join(res.docs.select("doc_id", "content"), "doc_id")
        .withColumn("hl", highlight_col(reg, F.col("query_id"), F.col("content")))
        .collect()
    )
    hl_map = {(int(r["doc_id"]), r["query_id"]): r["hl"] for r in hl}
    assert hl_map[(1, "q-fox")] == "the <b>fox</b> is here"
    assert hl_map[(2, "q-youscan")] == "<b>youscan</b> percolator"


def test_empty_registry_and_empty_matches(spark):
    """Empty registry short-circuits to empty per-doc entries
    (BatchPercolatorService.java:142-144, emptyPercolateResponses:268-275)."""
    docs = [(0, "a b"), (1, "c d")]
    res, got = _run(spark, {}, docs)
    assert got == set()
    per_doc = {int(r["doc_id"]): r["matched_queries"] for r in res.per_doc().collect()}
    assert per_doc == {0: [], 1: []}


def test_counts_mode(spark):
    queries = {"qa": {"term": {"content": "a"}}, "qx": {"term": {"content": "x"}}}
    res, _ = _run(spark, queries, [(0, "a b"), (1, "a c"), (2, "b c")])
    counts = {r["query_id"]: r["n_matches"] for r in res.counts().collect()}
    assert counts == {"qa": 2}


def test_percolate_randomized_oracle(spark):
    """Random query set × random docs == python exact evaluator, end to end
    (the integration analog of the reference's randomized corpus test)."""
    rng = random.Random(158556155086072256)
    queries = {}
    for i in range(60):
        kind = rng.randrange(7)
        if kind == 0:
            q = {"term": {"content": rng.choice(VOCAB)}}
        elif kind == 1:
            q = {"wildcard": {"content": rng.choice(["a*", "?b", "*e*", "c?"])}}
        elif kind == 2:
            q = {"phrase": {"field": "content", "terms": rng.choices(VOCAB, k=rng.randint(2, 3))}}
        elif kind == 3:
            q = {
                "bool": {
                    "must": [{"term": {"content": rng.choice(VOCAB)}} for _ in range(rng.randint(1, 2))],
                    "must_not": [{"term": {"content": rng.choice(VOCAB)}}] if rng.random() < 0.5 else [],
                    "should": [{"wildcard": {"content": "a*"}}] if rng.random() < 0.3 else [],
                }
            }
        elif kind == 4:
            q = {
                "span_near": {
                    "clauses": [{"span_term": {"content": rng.choice(VOCAB)}} for _ in range(2)],
                    "slop": rng.randint(0, 2),
                    "in_order": rng.random() < 0.5,
                }
            }
        elif kind == 5:
            q = {"match_all": {}}
        else:
            q = {
                "wildcard_phrase": {
                    "field": "content",
                    "producers": [
                        {"term": {"content": rng.choice(VOCAB)}},
                        {"wildcard": {"content": rng.choice(["a*", "?b"])}},
                    ],
                }
            }
        queries[f"q{i}"] = q

    docs = [(i, " ".join(rng.choices(VOCAB, k=rng.randint(0, 12)))) for i in range(150)]
    _, got = _run(spark, queries, docs)

    reg = CompiledRegistry.from_rows(list(queries.items()))
    expected = set()
    for doc_id, text in docs:
        pydoc = {"content": [t for t in text.lower().split(" ") if t]}
        for qid, cq in reg.queries.items():
            if eval_plan(cq.plan, pydoc):
                expected.add((doc_id, qid))
    assert got == expected


from dataclasses import dataclass

from elasticsearch_batch_percolator_spark.plans.query_plan import Plan


@dataclass(frozen=True)
class BoomPlan(Plan):
    """Module-level so it survives broadcast pickling (real plans are
    module-level dataclasses too)."""

    field: str = "content"

    def to_dict(self):
        return {"boom": {}}


def test_per_query_error_isolation(spark):
    """E10: a query whose exact evaluation explodes is skipped (Meltwater
    skip-and-log, BatchPercolatorService.java:364-368), not batch-fatal."""
    from elasticsearch_batch_percolator_spark.sources.registry import CompiledQuery

    reg = CompiledRegistry.from_rows([("ok", {"term": {"content": "a"}})])
    # phase-1 groups make it a candidate everywhere; phase-2 eval raises
    reg.queries["boom"] = CompiledQuery(
        query_id="boom", plan=BoomPlan(), approx=None, groups=None, needs_verify=True
    )
    docs_df = spark.createDataFrame([(0, "a b"), (1, "c d")], "doc_id long, content string")
    got = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs_df, reg).matches.collect()
    }
    assert got == {(0, "ok")}  # boom dropped everywhere, batch succeeded


def test_registry_save_load_roundtrip(spark, tmp_path):
    """S5 registration sink + S6 recovery scan."""
    rows = [
        ("1", {"term": {"content": "b"}}),
        ("2", {"bool": {"must": [{"term": {"content": "b"}}, {"term": {"content": "c"}}]}}),
    ]
    path = str(tmp_path / "queries")
    save_registry(spark, rows, path)
    reg = load_registry(spark, path)
    assert len(reg) == 2
    docs_df = spark.createDataFrame([(0, "b c")], "doc_id long, content string")
    got = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs_df, reg).matches.collect()
    }
    assert got == {(0, "1"), (0, "2")}


def test_recovery_skips_malformed_stored_queries(spark, tmp_path):
    """Recovery semantics: one malformed stored query is warn-logged and
    skipped, the rest of the registry comes back (the reference's loader
    catches per query and keeps collecting,
    BatchQueriesLoaderCollector.java:89-90). API registration still raises
    (preIndex validate, BatchPercolatorQueriesRegistry.java:148)."""
    import pytest

    rows = [
        ("good1", {"term": {"content": "b"}}),
        ("bad_json", "{not json"),
        ("bad_type", {"frobnicate": {"content": "x"}}),
        ("good2", {"bool": {"must": [{"term": {"content": "c"}}]}}),
    ]
    path = str(tmp_path / "queries_bad")
    save_registry(spark, rows, path)
    reg = load_registry(spark, path)
    assert sorted(reg.queries) == ["good1", "good2"]
    docs_df = spark.createDataFrame([(0, "b c")], "doc_id long, content string")
    got = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs_df, reg).matches.collect()
    }
    assert got == {(0, "good1"), (0, "good2")}
    # the API path (and a non-recovery bulk load) still raises
    with pytest.raises(Exception):
        CompiledRegistry.from_rows([("bad_type", {"frobnicate": {}})])
    # distributed compile honors the same flag: skipped on executors,
    # warned driver-side, remainder assembled
    qdf = spark.createDataFrame(
        [(q, j if isinstance(j, str) else __import__("json").dumps(j))
         for q, j in rows],
        "query_id string, query_json string",
    ).repartition(2)
    dist = CompiledRegistry.from_df(qdf, distributed=True, skip_invalid=True)
    assert sorted(dist.queries) == ["good1", "good2"]


def test_distributed_compile_falls_back_to_driver_on_executor_failure(
    spark, monkeypatch
):
    """A recovery on a session without --py-files (executors can't import
    the package) must still load: from_df falls back to the driver-side
    compile instead of aborting."""
    from pyspark.sql import DataFrame as _DF

    def boom(self, *a, **k):
        raise RuntimeError("simulated executor import failure")

    monkeypatch.setattr(_DF, "mapInPandas", boom)
    qdf = spark.createDataFrame(
        [("1", '{"term": {"content": "b"}}'), ("2", '{"term": {"content": "c"}}')],
        "query_id string, query_json string",
    ).repartition(2)
    reg = CompiledRegistry.from_df(qdf, distributed=True)
    assert sorted(reg.queries) == ["1", "2"]


def test_registry_roundtrip_preserves_highlight_and_nested(spark, tmp_path):
    """RecoveryTests.java analog for round-2 features: a stored percolator
    doc carries its highlight spec and nested plan through save -> reload
    (the reference re-parses the FULL stored source on recovery,
    BatchPercolatorQueriesRegistry.parsePercolatorDocument:138-185)."""
    rows = [
        ("hq", {"query": {"term": {"content": "fox"}},
                 "highlight": {"fields": ["content"], "pre_tags": ["<em>"],
                               "post_tags": ["</em>"]}}),
        ("nq", {"nested": {"path": "kids",
                            "query": {"term": {"ctoks": "x"}}}}),
    ]
    path = str(tmp_path / "queries2")
    save_registry(spark, rows, path)
    reg = load_registry(spark, path)
    assert len(reg) == 2
    hl = reg.queries["hq"].highlight
    assert hl is not None and hl.fields == ("content",) and hl.pre_tag == "<em>"
    from elasticsearch_batch_percolator_spark.plans.query_plan import Nested
    assert isinstance(reg.queries["nq"].plan, Nested)
    # and the reloaded registry actually highlights
    docs_df = spark.createDataFrame([(0, "a fox here")], "doc_id long, content string")
    res = percolate(spark, docs_df, reg)
    got = {
        (r["query_id"], r["highlights"].get("content", [None])[0])
        for r in res.with_highlights(reg).collect()
    }
    assert got == {("hq", "a <em>fox</em> here")}


def test_distributed_registry_compile_equals_driver(spark):
    """from_df(distributed=True) compiles per partition on executors via
    the SAME register() code path and must reproduce the driver-compiled
    registry exactly — plans, approximations, groups, flags, highlight
    specs (VERDICT r3 item 3; the reference parallels its registry load
    per shard, BatchQueriesLoaderCollector.java:77-96)."""
    import json as _json
    import random

    rng = random.Random(4242)
    vocab = ["spark", "join", "merge", "hash", "scan", "row", "key", "def"]
    rows = []
    for i in range(300):
        k = i % 6
        if k == 0:
            q = {"term": {"content": rng.choice(vocab)}}
        elif k == 1:
            q = {"bool": {"must": [{"term": {"content": rng.choice(vocab)}}
                                   for _ in range(2)],
                          "must_not": [{"term": {"content": rng.choice(vocab)}}]}}
        elif k == 2:
            q = {"phrase": {"field": "content",
                            "terms": rng.sample(vocab, 2), "slop": i % 3}}
        elif k == 3:
            q = {"wildcard": {"content": rng.choice(vocab)[:2] + "*"}}
        elif k == 4:
            q = {"query": {"term": {"content": rng.choice(vocab)}},
                 "highlight": {"fields": {"content": {}},
                               "pre_tags": ["<em>"], "post_tags": ["</em>"]}}
        else:
            q = {"wildcard_phrase": {"field": "content", "producers": [
                {"term": {"content": rng.choice(vocab)}},
                {"wildcard": {"content": rng.choice(vocab)[:2] + "*"}}]}}
        rows.append((f"q{i}", _json.dumps(q)))

    qdf = spark.createDataFrame(
        rows, "query_id string, query_json string"
    ).repartition(8)
    dist = CompiledRegistry.from_df(qdf, distributed=True)
    driver = CompiledRegistry.from_rows(rows)
    assert set(dist.queries) == set(driver.queries)
    assert dist.version == driver.version

    # blob-backed: executors pickled the trees and precomputed the planner
    # metadata; the driver holds bytes, not plan objects, until an operator
    # genuinely dereferences .plan
    from elasticsearch_batch_percolator_spark.sources.registry import (
        _UNSET,
        _jv_requirements,
        _simple_required,
    )
    from elasticsearch_batch_percolator_spark.plans.query_plan import fields_of

    for qid, dcq in driver.queries.items():
        xcq = dist.queries[qid]
        assert xcq.plan_blob is not None, qid
        assert xcq._plan is None, qid  # not yet materialized on the driver
        assert xcq.simple_req is not _UNSET and (
            xcq.simple_req == _simple_required(dcq.plan)
        ), qid
        assert xcq.jv_req is not _UNSET and (
            xcq.jv_req == _jv_requirements(dcq.plan)
        ), qid
        assert xcq.fields_fs == frozenset(fields_of(dcq.plan)), qid

    # the verify broadcast + jv atoms + field set assemble WITHOUT
    # unpickling any plan tree on the driver
    bc = dist.broadcast_verify_plans(qdf.sparkSession)
    s_qids, p_qids = dist.verify_qid_spaces()
    assert set(s_qids) | set(p_qids) == set(dist.gate_verify_ids())
    # the plan buffer slices back to per-query blobs that unpickle
    import pickle as _pickle

    pc = bc.value["plan_cols"]
    for i, qid in enumerate(p_qids):
        blob = pc["buf"][pc["off"][i] : pc["off"][i + 1]]
        # compare against the DRIVER-compiled twin: dereferencing dist's
        # .plan here would materialize it and void the laziness assert below
        assert _pickle.loads(blob).to_dict() == driver.queries[qid].plan.to_dict()
    # columnar round-trip: every simple row decodes back to the driver's
    # _simple_required tuples
    from elasticsearch_batch_percolator_spark.operators.percolate import _sdecode

    for i, qid in enumerate(s_qids):
        assert _sdecode(bc.value["simple_cols"], i) == _simple_required(
            driver.queries[qid].plan
        ), qid
    dist.jv_verify_atoms()
    assert dist.query_fields() == driver.query_fields()
    assert all(cq._plan is None for cq in dist.queries.values())

    # end-to-end: the blob-backed registry percolates identically (fresh
    # from_df so the laziness assertions above stay unpolluted)
    spark = qdf.sparkSession
    dist2 = CompiledRegistry.from_df(qdf, distributed=True)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(vocab, 4))) for i in range(40)],
        "doc_id long, content string",
    )
    got_d = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, dist2).matches.collect()
    }
    got_r = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, driver).matches.collect()
    }
    assert got_d == got_r and got_d

    for qid, dcq in driver.queries.items():
        xcq = dist.queries[qid]
        assert xcq.plan == dcq.plan, qid  # lazy materialization is exact
        assert xcq.approx == dcq.approx, qid
        assert xcq.groups == dcq.groups, qid
        assert xcq.needs_verify == dcq.needs_verify, qid
        assert xcq.match_none == dcq.match_none, qid
        assert (xcq.highlight is None) == (dcq.highlight is None), qid
        if dcq.highlight is not None:
            assert xcq.highlight.__dict__ == dcq.highlight.__dict__, qid


def test_bt_prune_equivalence(spark, monkeypatch):
    """The pre-explode gate-term prune (batch_terms carries only the
    registry's term closure) must be invisible to results. Exercises the
    closure's edge paths: wildcard gates + jv "w" atoms (term-dictionary
    expansion must still see pattern-matching terms), wildcard phrases
    ("wg" expansion patterns), must_not terms (probe words outside the
    gate groups), slop-0 phrases (gate words vs n-gram verify), and a
    term that appears ONLY in docs (prunable)."""
    import random as _random

    rng = _random.Random(77)
    vocab = [f"w{i}" for i in range(60)] + ["prefix_a", "prefix_b", "zonly"]
    queries = []
    for i in range(40):
        k = i % 5
        if k == 0:
            terms = rng.sample(vocab[:60], 3)
            q = {"bool": {"must": [{"term": {"content": t}} for t in terms[:2]],
                          "must_not": [{"term": {"content": terms[2]}}]}}
        elif k == 1:
            q = {"wildcard": {"content": "prefix_*"}}
        elif k == 2:
            q = {"phrase": {"field": "content",
                            "terms": rng.sample(vocab[:60], 2), "slop": 0}}
        elif k == 3:
            q = {"wildcard_phrase": {"field": "content", "producers": [
                {"term": {"content": rng.choice(vocab[:60])}},
                {"wildcard": {"content": "prefix_*"}}]}}
        else:
            q = {"bool": {"should": [{"term": {"content": rng.choice(vocab[:60])}},
                                     {"wildcard": {"content": "w1*"}}]}}
        queries.append((f"q{i}", q))
    reg_a = CompiledRegistry.from_rows(queries)
    reg_b = CompiledRegistry.from_rows(queries)
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(vocab, 6))) for i in range(120)],
        "doc_id long, content string",
    )

    from elasticsearch_batch_percolator_spark.operators import (
        percolate as percolate_mod,
    )

    monkeypatch.setattr(percolate_mod, "_BT_PRUNE", True)
    pruned = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg_a).matches.collect()
    }
    monkeypatch.setattr(percolate_mod, "_BT_PRUNE", False)
    full = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg_b).matches.collect()
    }
    assert pruned == full and pruned

    # prune actually engaged for reg_a (cache holds a non-None closure)
    assert getattr(reg_a, "_bt_prune_cache")[1] is not None

    # threshold exceeded -> prune disabled, results still identical
    monkeypatch.setattr(percolate_mod, "_BT_PRUNE", True)
    monkeypatch.setattr(percolate_mod, "_BT_PRUNE_MAX_TERMS", 3)
    reg_c = CompiledRegistry.from_rows(queries)
    capped = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg_c).matches.collect()
    }
    assert capped == full
    assert getattr(reg_c, "_bt_prune_cache")[1] is None


def test_worker_verify_cache_persists_across_tasks(spark):
    """The per-worker unpickled-broadcast cache must be reachable through a
    RUNTIME import, not a closed-over global: cloudpickle copies a nested
    UDF's referenced globals by value, so a closed-over dict is a fresh
    per-task copy and the ~110s/worker 10^6-registry unpickle (BASELINE.md
    1M study) would be re-paid on every task. This pins the mechanism: the
    worker-side imported module is the SAME object across tasks and jobs of
    one application, so state written by task 1 is visible to task 2."""

    sc = spark.sparkContext

    def probe(_):
        import os

        from elasticsearch_batch_percolator_spark.operators import percolate as pm

        key = "__test_cache_probe__"
        pm._WORKER_VERIFY_CACHE[key] = pm._WORKER_VERIFY_CACHE.get(key, 0) + 1
        yield (os.getpid(), pm._WORKER_VERIFY_CACHE[key])

    try:
        seen = []
        # 2 jobs x 32 tasks over <= 8-ish workers: every worker runs the
        # probe several times, within and across jobs
        for _ in range(2):
            seen += sc.parallelize(range(32), 32).mapPartitions(probe).collect()
        by_pid = {}
        for pid, count in seen:
            by_pid.setdefault(pid, []).append(count)
        # some worker was reused AND saw its own prior write (count >= 2)
        assert any(max(v) >= 2 for v in by_pid.values()), by_pid
        # counts grow monotonically within a pid: one shared module dict
        for v in by_pid.values():
            assert v == sorted(v)
    finally:
        # scrub the probe key from reused workers
        def scrub(_):
            from elasticsearch_batch_percolator_spark.operators import (
                percolate as pm,
            )

            pm._WORKER_VERIFY_CACHE.pop("__test_cache_probe__", None)
            yield 0

        sc.parallelize(range(64), 64).mapPartitions(scrub).count()


def test_worker_verify_cache_no_alias_across_registries(spark):
    """Two DIFFERENT registries that share a ``version`` value (version is
    len(queries) on load, so collisions are routine) must not alias in the
    worker-side verify cache: each percolate must evaluate ITS OWN plans.
    Regression for the (app, version) cache key that served registry A's
    sloppy-phrase plans to registry B's batch, silently dropping matches
    (caught by test_percolate_sloppy_out_of_order under the full suite)."""
    from elasticsearch_batch_percolator_spark.operators.percolate import percolate
    from elasticsearch_batch_percolator_spark.sources.registry import (
        CompiledRegistry,
    )

    # both registries: 2 queries -> version == 2, identical qids, but the
    # phrases differ. Sloppy phrases force the python verify lane (the one
    # the worker cache backs).
    reg_a = CompiledRegistry.from_rows(
        [
            ("q1", {"phrase": {"field": "content",
                               "terms": ["red", "green"], "slop": 2}}),
            ("q2", {"phrase": {"field": "content",
                               "terms": ["red", "blue"], "slop": 2}}),
        ]
    )
    reg_b = CompiledRegistry.from_rows(
        [
            ("q1", {"phrase": {"field": "content",
                               "terms": ["cyan", "pink"], "slop": 2}}),
            ("q2", {"phrase": {"field": "content",
                               "terms": ["cyan", "gray"], "slop": 2}}),
        ]
    )
    assert reg_a.version == reg_b.version

    n = 64
    docs_a = spark.createDataFrame(
        [(i, "green red wall") for i in range(n)], "doc_id long, content string"
    )
    docs_b = spark.createDataFrame(
        [(i, "pink cyan sky") for i in range(n)], "doc_id long, content string"
    )
    # 64 docs over 32 partitions in BOTH runs: essentially every reused
    # worker first warms its cache with A's plans, then verifies B's docs —
    # under an aliasing key, B's matches vanish on those workers.
    got_a = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs_a.repartition(32), reg_a).matches.collect()
    }
    got_b = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs_b.repartition(32), reg_b).matches.collect()
    }
    assert got_a == {(i, "q1") for i in range(n)}
    assert got_b == {(i, "q1") for i in range(n)}
    assert reg_a.verify_bc_token() != reg_b.verify_bc_token()


def test_from_df_auto_small_stays_serial(spark, monkeypatch):
    """distributed='auto' must consider SIZE, not just partition count: a
    small registry parquet that Spark happens to read as several splits
    (the load_registry recovery path) should compile serially on the
    driver — no executor round-trip, no dependence on the package being
    shipped to executors (a session without --py-files)."""
    import json

    from elasticsearch_batch_percolator_spark.sources import registry as regmod

    calls = {}
    orig = regmod.CompiledRegistry.from_rows.__func__

    def spy(cls, rows, skip_invalid=False):
        calls["serial"] = True
        return orig(cls, rows, skip_invalid=skip_invalid)

    monkeypatch.setattr(regmod.CompiledRegistry, "from_rows", classmethod(spy))
    qdf = spark.createDataFrame(
        [(f"q{i}", json.dumps({"term": {"content": "x"}})) for i in range(10)],
        "query_id string, query_json string",
    ).repartition(4)
    reg = regmod.CompiledRegistry.from_df(qdf)
    assert calls.get("serial") and len(reg) == 10


def test_columnar_simple_lane_non_ascii_terms(spark):
    """The columnar verify broadcast stores terms as ONE utf-8 buffer with
    byte offsets; non-ASCII terms take the per-term-encode fallback (byte
    length != char length). End-to-end percolation must round-trip them."""
    reg = CompiledRegistry.from_rows(
        [
            ("uni", {"bool": {"must": [{"term": {"content": "héllo"}},
                                        {"term": {"content": "wörld"}}]}}),
            ("neg", {"bool": {"must": [{"term": {"content": "héllo"}}],
                              "must_not": [{"term": {"content": "日本"}}]}}),
        ]
    )
    docs = spark.createDataFrame(
        [(1, "héllo wörld"), (2, "héllo 日本"), (3, "plain ascii")],
        "doc_id long, content string",
    )
    got = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg).matches.collect()
    }
    assert got == {(1, "uni"), (1, "neg")}


def test_hot_swap_rebuilds_vid_map(spark):
    """register/unregister between batches must rebuild the candidate
    query_id -> vid broadcast map (vids are row positions in the verify
    broadcast; a stale map would point candidates at the WRONG plan rows
    after the qid spaces shift). Mixes the simple lane (term conjunction)
    and the python plan lane (span_near) on both sides of the swap."""
    reg = CompiledRegistry.from_rows(
        [
            ("q_simple", {"bool": {"must": [{"term": {"content": "alpha"}},
                                            {"term": {"content": "beta"}}]}}),
            ("q_span", {"span_near": {"clauses": [
                {"span_term": {"content": "gamma"}},
                {"span_term": {"content": "delta"}}], "slop": 0,
                "in_order": True}}),
        ]
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta zz"), (2, "gamma delta zz"), (3, "epsilon zeta zz")],
        "doc_id long, content string",
    )
    got = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg).matches.collect()
    }
    assert got == {(1, "q_simple"), (2, "q_span")}

    # hot swap: drop the span query, add one simple + one python-lane
    # query — both qid spaces shift, so every vid changes meaning
    reg.unregister("q_span")
    reg.register("q_eps", {"bool": {"must": [{"term": {"content": "epsilon"}},
                                             {"term": {"content": "zeta"}}]}})
    reg.register("q_span2", {"span_near": {"clauses": [
        {"span_term": {"content": "zeta"}},
        {"span_term": {"content": "zz"}}], "slop": 0, "in_order": True}})
    got2 = {
        (int(r["doc_id"]), r["query_id"])
        for r in percolate(spark, docs, reg).matches.collect()
    }
    assert got2 == {(1, "q_simple"), (3, "q_eps"), (3, "q_span2")}


def test_string_doc_ids_supported(spark):
    """The reference percolates arbitrary ES doc ids (_id is a string,
    BatchPercolatorService.java:131-178) — a string-keyed corpus must
    produce the same matches as the same corpus under numeric ids, not
    die in an implicit bigint cast. Exercises phase 1 + both verify
    lanes (pure-term jv conjunction AND a positional python-lane query)
    and the all-docs/match_all channel."""
    queries = {
        "t": {"term": {"content": "fox"}},
        "conj": {"bool": {"must": [{"term": {"content": "fox"}},
                                   {"term": {"content": "jumps"}}],
                          "must_not": [{"term": {"content": "wolf"}}]}},
        "ph": {"phrase": {"field": "content", "terms": ["quick", "fox"], "slop": 1}},
        "all": {"match_all": {}},
    }
    docs = [
        ("doc-a", "the quick brown fox jumps"),
        ("doc-b", "fox wolf jumps"),
        ("doc-c", "nothing here"),
    ]
    reg = CompiledRegistry.from_rows(list(queries.items()))
    sdf = spark.createDataFrame(docs, "doc_id string, content string")
    res = percolate(spark, sdf, reg)
    assert res.matches.schema["doc_id"].dataType.simpleString() == "string"
    got = {(r["doc_id"], r["query_id"]) for r in res.matches.collect()}
    assert got == {
        ("doc-a", "t"), ("doc-a", "conj"), ("doc-a", "ph"), ("doc-a", "all"),
        ("doc-b", "t"), ("doc-b", "all"),
        ("doc-c", "all"),
    }
    # downstream response shapes take the string key as-is
    scored = res.with_scores(reg).collect()
    assert {r["doc_id"] for r in scored} == {"doc-a", "doc-b", "doc-c"}
    per_doc = {r["doc_id"]: len(r["matched_queries"])
               for r in res.per_doc().collect()}
    assert per_doc == {"doc-a": 4, "doc-b": 2, "doc-c": 1}
    # numeric relabel of the same corpus matches 1:1
    relabel = {"doc-a": 0, "doc-b": 1, "doc-c": 2}
    ndf = spark.createDataFrame(
        [(relabel[d], c) for d, c in docs], "doc_id long, content string"
    )
    ngot = {(int(r["doc_id"]), r["query_id"])
            for r in percolate(spark, ndf, reg).matches.collect()}
    assert ngot == {(relabel[d], q) for d, q in got}

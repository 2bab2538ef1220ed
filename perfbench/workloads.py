"""The benchmark's workloads: one client, one call in flight (closed loop).

Each workload sets up, then repeats one operation on fresh inputs until
the operations' summed time reaches the run length (and at least
``MIN_OPS`` times). Inputs are materialized before an operation's clock
starts and released after it stops; output checks run outside the clock.
A failed or wrong operation is counted, never fatal.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.functions.tokenizer import tokenize_code
from elasticsearch_batch_percolator_spark.index.build import (
    append_index,
    build_index,
    compact_index,
)
from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk
from elasticsearch_batch_percolator_spark.operators.dsl_index import dsl_topk_from_index
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.plans import compile_query
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.plans.query_plan import positive_term_weights
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

from . import inputs
from .measure import median, read_procs, tail, tree_cpu_s
from .tracer import Tracer

MIN_OPS = 3  # timed operations per run, at least; the digest covers the first MIN_OPS


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    seed: int
    seconds: float
    cores: int
    work_dir: str
    trace: bool
    ids: inputs.IdRanges = field(init=False)
    setup_s: float = 0.0
    attempted: int = 0
    failures: list = field(default_factory=list)
    op_s: list = field(default_factory=list)  # untraced operations
    op_cpu_s: list = field(default_factory=list)
    traced_op_s: list = field(default_factory=list)
    traced_span_s: float = 0.0
    digests: list = field(default_factory=list)
    report: dict = field(default_factory=dict)

    def __post_init__(self):
        self.ids = inputs.IdRanges(self.seed)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def attempt(self, label: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.fail(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def loop(self, op, burn_in: int) -> None:
        """Closed loop over ``op(i) -> OpClock``. The first ``burn_in``
        operations warm the JIT, workers and caches; they are checked but
        not timed into the metrics. In a traced run every other timed
        operation runs with spans off: the two halves give the tracing
        overhead, so a traced run times at least two of each. The loop
        gives up after ``min_ops`` failed operations."""
        min_ops = MIN_OPS + 1 if self.trace else MIN_OPS
        i = failed = 0
        while failed < min_ops and (
            i < burn_in + min_ops or sum(self.op_s) + sum(self.traced_op_s) < self.seconds
        ):
            timed = i >= burn_in
            traced = self.trace and timed and (i - burn_in) % 2 == 1
            self.tracer.enabled = traced
            spans0 = self.tracer.span_wall_s()
            clock = self.attempt(f"op {i}", lambda: op(i))
            failed += clock is None
            if clock is not None and timed:
                if traced:
                    self.traced_op_s.append(clock.wall_s)
                    self.traced_span_s += self.tracer.span_wall_s() - spans0
                else:
                    self.op_s.append(clock.wall_s)
                    self.op_cpu_s.append(clock.cpu_s)
            i += 1
        self.tracer.enabled = self.trace

    def digest(self) -> str:
        return hashlib.sha256(json.dumps(self.digests[:MIN_OPS]).encode()).hexdigest()[:16]


class OpClock:
    """Wall seconds, and CPU seconds of the whole process tree (driver, JVM,
    Python workers), summed over the timed regions of one operation."""

    def __init__(self):
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self.last_wall_s = 0.0

    @contextmanager
    def region(self):
        root = os.getpid()
        c0 = tree_cpu_s(read_procs(), root)
        t0 = time.perf_counter()
        try:
            yield self
        finally:
            self.last_wall_s = time.perf_counter() - t0
            self.wall_s += self.last_wall_s
            self.cpu_s += tree_cpu_s(read_procs(), root) - c0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _timing(xs: list[float]) -> dict:
    t = tail(xs)
    return {
        "p50_s": median(xs) if xs else None,
        "tail_s": t[0] if t else None,
        "tail_pct": t[1] if t else None,
        "n": len(xs),
    }


# ---- percolation ------------------------------------------------------


@dataclass(frozen=True)
class PercSpec:
    n_queries: int
    batch_docs: int
    warm_docs: int
    vocab_size: int | None
    churn: int  # queries unregistered and registered before each batch
    sample_docs: int = 12
    check_queries: int = 300


PERC_BURN_IN = 2  # batch times fall for two batches after warmup
PERC_SELECTIVE = PercSpec(
    n_queries=6000, batch_docs=1000, warm_docs=400,
    vocab_size=inputs.SELECTIVE_VOCAB, churn=0,
)
PERC_DENSE_CHURN = PercSpec(
    n_queries=500, batch_docs=2000, warm_docs=400, vocab_size=None, churn=3,
)


def _perc_queries(spec: PercSpec, rng: random.Random) -> list[tuple[str, dict]]:
    if spec.churn:
        return [(f"d{i}", inputs.dense_query(rng)) for i in range(spec.n_queries)]
    return inputs.selective_queries(rng, spec.n_queries)


def _churn(reg: CompiledRegistry, rng: random.Random, spec: PercSpec, i: int) -> None:
    """The reference's live registry update between batches."""
    for qid in rng.sample(sorted(reg.queries), spec.churn):
        reg.unregister(qid)
    for j in range(spec.churn):
        reg.register(f"c{i}_{j}", inputs.dense_query(rng))


def _per_doc_digest(res, sample_ids: list[int]):
    """Materialize per_doc() in one action: doc and match counts, an
    order-free hash of every (doc, matched queries) entry, and the entries
    of the spot-check sample."""
    pd_df = res.per_doc()
    return pd_df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("matched_queries")).alias("matches"),
        F.expr("bit_xor(xxhash64(doc_id, array_join(matched_queries, ' ')))").alias("h"),
        F.collect_list(
            F.when(F.col("doc_id").isin(sample_ids), F.struct("doc_id", "matched_queries"))
        ).alias("sample"),
    ).first()


def _check_perc(ctx: Ctx, reg, row, spec: PercSpec, sample_ids, rng, label) -> None:
    if row["docs"] != spec.batch_docs:
        ctx.fail(f"{label}: per_doc has {row['docs']} docs, batch has {spec.batch_docs}")
    got = {int(r["doc_id"]): set(r["matched_queries"]) for r in row["sample"]}
    qids = sorted(reg.queries)
    check = set(rng.sample(qids, min(spec.check_queries, len(qids))))
    toks = inputs.doc_tokens(sample_ids, spec.vocab_size)
    for d in sample_ids:
        matched = got.get(d)
        if matched is None:
            ctx.fail(f"{label}: doc {d} missing from per_doc")
            continue
        for q in sorted(check | matched):
            if eval_plan(reg.queries[q].plan, {"content": toks[d]}) != (q in matched):
                ctx.fail(f"{label}: doc {d} query {q} disagrees with eval_plan")


def run_percolate(ctx: Ctx, spec: PercSpec) -> None:
    spark, rng = ctx.spark, random.Random(ctx.seed)
    rows = _perc_queries(spec, random.Random(inputs.QUERY_SEED))
    with ctx.tracer.span("registry.compile"):
        reg, compile_s = _timed(lambda: CompiledRegistry.from_rows(rows))
    ctx.attempted += 1
    warm_start = ctx.ids.take(spec.warm_docs)
    warm = _materialize(
        inputs.docs_df(spark, warm_start, spec.warm_docs, spec.vocab_size, ctx.cores)
    )
    with ctx.tracer.span("registry.warmup"):
        _, warmup_s = _timed(lambda: reg.warmup(spark, sample=warm))
    ctx.attempted += 1
    warm.unpersist()
    ctx.setup_s += compile_s + warmup_s
    ctx.report.update(registry_compile_s=compile_s, registry_warmup_s=warmup_s)

    def op(i: int) -> float:
        start = ctx.ids.take(spec.batch_docs)
        batch = _materialize(
            inputs.docs_df(spark, start, spec.batch_docs, spec.vocab_size, ctx.cores)
        )
        sample_ids = sorted(rng.sample(range(start, start + spec.batch_docs), spec.sample_docs))
        clock = OpClock()
        with clock.region():
            if spec.churn:
                with ctx.tracer.span("registry.mutate"):
                    _churn(reg, rng, spec, i)
            with ctx.tracer.span("percolate.plan"):
                res = percolate(spark, batch, reg)
            with ctx.tracer.span("percolate.execute"):
                row = _per_doc_digest(res, sample_ids)
            with ctx.tracer.span("percolate.release"):
                res.unpersist()
        batch.unpersist()
        ctx.digests.append([row["docs"], row["matches"], row["h"]])
        _check_perc(ctx, reg, row, spec, sample_ids, rng, f"batch {i}")
        return clock

    ctx.loop(op, burn_in=PERC_BURN_IN)
    batches = ctx.op_s or ctx.traced_op_s
    t = _timing(batches)
    ctx.report.update(
        perc_docs_per_s=spec.batch_docs * len(batches) / sum(batches),
        perc_batch_p50_s=t["p50_s"],
        perc_batch_tail_s=t["tail_s"],
        perc_batch_tail_pct=t["tail_pct"],
        perc_batches=t["n"],
        registry_queries=len(reg),
    )


# ---- index writes beside reads -----------------------------------------

BASE_DOCS = 4_000
APPEND_DOCS = 1_000
INDEX_BURN_IN = 2  # round times fall for two rounds after the build
N_WAND_QUERIES = 100
WAND_CHECK_QUERIES = 2
# DSL shapes the oracle can score without expanding multi-term atoms
DSL_CHECK_QUERIES = ("phrase", "sloppy", "span", "msm", "must_not")
DSL_CHECK_SAMPLE = 2


def _topk_rows(df: DataFrame) -> list[tuple]:
    return sorted(
        (r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        for r in df.collect()
    )


def _same_topk(a: list[tuple], b: list[tuple], tol: float = 1e-9) -> bool:
    return len(a) == len(b) and all(
        x[:3] == y[:3] and abs(x[3] - y[3]) <= tol for x, y in zip(a, b)
    )


def _check_index_oracles(ctx: Ctx, base: DataFrame, idx: str, wand_q, dsl_q, rng) -> None:
    """Fresh index vs the in-memory join scorer (``Engine.score`` +
    ``bm25_topk``) on seeded query samples, in one scoring pass: WAND
    top-k over every doc, DSL top-k over the docs ``eval_plan`` matches."""
    spark = ctx.spark
    eng = Engine(spark, base, tokenizer="code", cache=False)
    wand = {q: wand_q[q] for q in rng.sample(sorted(wand_q), WAND_CHECK_QUERIES)}
    dsl = {q: dsl_q[q] for q in rng.sample(DSL_CHECK_QUERIES, DSL_CHECK_SAMPLE)}
    # one row per term occurrence: a repeated term scores once per occurrence
    weights = [(q, t, 1.0) for q, ts in sorted(wand.items()) for t in ts]
    docs = eng.docs.select("doc_id", "tokens").collect()
    hits = []
    for name, query in sorted(dsl.items()):
        plan = compile_query(query)
        hits += [
            (name, r["doc_id"]) for r in docs
            if eval_plan(plan, {"content": list(r["tokens"])})
        ]
        w: dict[str, float] = {}
        for (_f, t), wt in positive_term_weights(plan).items():
            w[t] = w.get(t, 0.0) + wt
        weights += [(name, t, wt) for t, wt in sorted(w.items())]
    scored = eng.score(
        spark.createDataFrame(weights, "query_id string, term string, w double")
    ).select("query_id", "doc_id", "score")
    matched = spark.createDataFrame(hits, "query_id string, doc_id long")
    want = _topk_rows(bm25_topk(
        scored.where(F.col("query_id").isin(sorted(wand))).unionByName(
            scored.join(matched, ["query_id", "doc_id"], "right").fillna({"score": 0.0})
        ),
        10,
    ))
    got = sorted(
        _topk_rows(topk_from_index(spark, idx, wand, k=10))
        + _topk_rows(dsl_topk_from_index(spark, idx, dsl, k=10))
    )
    if not _same_topk(got, want, 1e-6):
        ctx.fail(f"index top-k differs from the join scorer for {sorted(wand) + sorted(dsl)}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def run_index(ctx: Ctx) -> None:
    spark, rng = ctx.spark, random.Random(ctx.seed)
    idx = os.path.join(ctx.work_dir, "index")
    query_rng = random.Random(inputs.QUERY_SEED)
    wand_q = inputs.term_queries(query_rng, N_WAND_QUERIES)
    dsl_q = inputs.dsl_queries(query_rng)
    start = ctx.ids.take(BASE_DOCS)
    base = _materialize(
        inputs.docs_df(spark, start, BASE_DOCS, inputs.INDEX_VOCAB, ctx.cores)
    )
    tokens = base.select("doc_id", tokenize_code("content").alias("tokens"))
    with ctx.tracer.span("index.build"):
        _, build_s = _timed(
            lambda: build_index(spark, tokens, idx, n_segments=ctx.cores, positions=True)
        )
    ctx.attempted += 1
    ctx.setup_s += build_s
    # The join-scorer oracle here and the compaction with its check at the
    # end would take two fifths of an untraced run, and a full measurement
    # (48 runs) must fit its time limit: only traced runs make them.
    # Untraced runs still check every appended micro-batch.
    if ctx.trace:
        _, ctx.report["oracle_s"] = _timed(lambda: ctx.attempt(
            "oracle checks", lambda: _check_index_oracles(ctx, base, idx, wand_q, dsl_q, rng)
        ))
    base.unpersist()

    parts: dict[int, tuple[float, float, float]] = {}  # round -> (append, wand, dsl) seconds
    last = {}

    def op(i: int) -> float:
        start = ctx.ids.take(APPEND_DOCS)
        marker = f"zqmark{start}"
        app = _materialize(inputs.docs_df(
            spark, start, APPEND_DOCS, inputs.INDEX_VOCAB, ctx.cores, marker=marker
        ))
        app_tokens = app.select("doc_id", tokenize_code("content").alias("tokens"))
        queries = {**wand_q, "probe": [marker]}
        clock = OpClock()
        with clock.region(), ctx.tracer.span("index.append"):
            append_index(spark, app_tokens, idx, n_new_segments=2)
        a_s = clock.last_wall_s
        with clock.region(), ctx.tracer.span("wand.topk"):
            wand = _topk_rows(topk_from_index(spark, idx, queries, k=10))
        w_s = clock.last_wall_s
        with clock.region(), ctx.tracer.span("dsl.topk"):
            dsl = _topk_rows(dsl_topk_from_index(spark, idx, dsl_q, k=10))
        app.unpersist()
        parts[i] = (a_s, w_s, clock.last_wall_s)
        probe = [r for r in wand if r[0] == "probe"]
        if not probe or probe[0][2] != start:
            ctx.fail(f"round {i}: appended doc {start} not found by its marker")
        ctx.digests.append(hashlib.sha256(json.dumps([wand, dsl]).encode()).hexdigest())
        last.update(wand=wand, dsl=dsl, queries=queries)
        return clock

    ctx.loop(op, burn_in=INDEX_BURN_IN)
    append_s, wand_s, dsl_s = (
        [parts[i][k] for i in sorted(parts) if i >= INDEX_BURN_IN] for k in range(3)
    )

    n_docs = BASE_DOCS + len(parts) * APPEND_DOCS
    index_bytes = _dir_bytes(idx)
    compacted, compact_s = os.path.join(ctx.work_dir, "compacted"), None
    if ctx.trace:
        with ctx.tracer.span("index.compact"):
            _, compact_s = _timed(
                lambda: compact_index(spark, idx, compacted, target_segments=ctx.cores)
            )
        ctx.attempted += 1

        def check_compacted():
            wand = _topk_rows(topk_from_index(spark, compacted, last["queries"], k=10))
            dsl = _topk_rows(dsl_topk_from_index(spark, compacted, dsl_q, k=10))
            if wand != last["wand"] or dsl != last["dsl"]:
                ctx.fail("compacted index top-k differs from the index before compaction")

        if last:
            ctx.attempt("compaction check", check_compacted)
    w, d = _timing(wand_s), _timing(dsl_s)
    ctx.report.update(
        index_build_docs_per_s=BASE_DOCS / build_s,
        append_p50_s=median(append_s) if append_s else None,
        compact_s=compact_s,
        wand_batch_p50_s=w["p50_s"],
        wand_batch_tail_s=w["tail_s"],
        wand_batch_tail_pct=w["tail_pct"],
        dsl_batch_p50_s=d["p50_s"],
        dsl_batch_tail_s=d["tail_s"],
        dsl_batch_tail_pct=d["tail_pct"],
        index_bytes_per_doc=index_bytes / n_docs,
        append_docs_per_s=APPEND_DOCS * len(append_s) / sum(append_s) if append_s else None,
        rounds=len(append_s),
    )
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(compacted, ignore_errors=True)


WORKLOADS = {
    "perc-selective": lambda ctx: run_percolate(ctx, PERC_SELECTIVE),
    "perc-dense-churn": lambda ctx: run_percolate(ctx, PERC_DENSE_CHURN),
    "index-rw": run_index,
}

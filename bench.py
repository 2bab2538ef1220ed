"""Benchmark harness — driver runs this per round; prints ONE JSON line.

Headline numbers (BASELINE.json metric):
- index_build_files_per_sec : tokenize → posting lists → compressed posting
  segments written to parquet (the north_rule build path)
- wand_queries_per_sec      : batched BM25 top-k via the per-segment scorer
  over the compressed index (100 queries in one plan)
- join_queries_per_sec      : the same workload on the join-based scorer
- percolate_docs_per_sec    : registered-query set (200 queries) percolated
  against the full documents batch (reference anecdote: ~1000 docs/s at
  225k queries, README.md:10-12)

Every section runs BEST-OF-N (default 3, SPARK_GRAFT_BENCH_REPS): this
box's per-core speed swings 2-3x between host windows AND the JVM C2 JIT
makes rep0 of any section 1.5-3x slower than rep2 — a single-rep number
is unfalsifiable against either effect (BENCH_r03's 2x-slower synth
window). The headline keeps the best rep (warm capability, the number
comparable across rounds); `reps` reports every rep so cold cost and
in-window variance stay visible.

Scaling evidence for the north_rule two-cluster-size criterion is produced
by scaling_bench.py (same job at local[8] vs local[32]).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_SEGMENTS = int(os.environ.get("SPARK_GRAFT_SEGMENTS", str(max(4, CPUS // 2))))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

BASE_TERMS = [
    ["spark"], ["spark", "join"], ["the", "fox"], ["vector", "window", "batch"],
    ["merge", "sort"], ["hash", "join", "group"], ["customer", "order"],
    ["stream", "batch"], ["filter", "query"], ["table", "scan", "merge"],
]
VOCAB = [
    "the", "spark", "join", "merge", "sort", "hash", "group", "window",
    "batch", "stream", "filter", "query", "table", "scan", "vector", "key",
    "order", "row", "column", "data", "value", "small", "big", "fast", "slow",
]


def _queries_100() -> dict[str, list[str]]:
    out = {}
    for rep in range(10):
        for i, terms in enumerate(BASE_TERMS):
            out[f"q{rep}_{i}"] = terms
    return out


def _mp_probe_burn(_):
    x = 0
    for _ in range(20_000_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return x


def _percolator_queries(n: int = 200) -> list[tuple[str, dict]]:
    import random

    rng = random.Random(42)
    rows = []
    for i in range(n):
        kind = i % 5
        if kind == 0:
            q = {"term": {"text": rng.choice(VOCAB)}}
        elif kind == 1:
            q = {"bool": {"must": [{"term": {"text": rng.choice(VOCAB)}} for _ in range(2)]}}
        elif kind == 2:
            q = {"phrase": {"field": "text", "terms": [rng.choice(VOCAB), rng.choice(VOCAB)]}}
        elif kind == 3:
            q = {"wildcard": {"text": rng.choice(VOCAB)[:2] + "*"}}
        else:
            q = {
                "bool": {
                    "must": [{"term": {"text": rng.choice(VOCAB)}}],
                    "must_not": [{"term": {"text": rng.choice(VOCAB)}}],
                }
            }
        rows.append((f"p{i}", q))
    return rows


def main() -> None:
    from pyspark.sql import functions as F

    from elasticsearch_batch_percolator_spark.engine import Engine
    from elasticsearch_batch_percolator_spark.index.build import build_index
    from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk
    from elasticsearch_batch_percolator_spark.operators.percolate import percolate
    from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
    from elasticsearch_batch_percolator_spark.session import get_spark
    from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

    # bench-box shuffle lives in tmpfs where lz4 measured faster at 32
    # cores (session.py keeps the cluster-correct zstd default)
    os.environ.setdefault("EBP_IO_CODEC", "lz4")
    spark = get_spark("ebp-bench", cores=CPUS)
    timings: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}

    def timeit(name: str, fn, reps: int = REPS) -> None:
        """Best-of-reps wall time for fn(); all reps recorded."""
        runs = []
        for _ in range(max(1, reps)):
            t0 = time.perf_counter()
            fn()
            runs.append(round(time.perf_counter() - t0, 3))
        all_reps[name] = runs
        timings[name] = min(runs)

    docs_raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs_raw.count()

    # --- index build (tokenize -> postings -> encode -> parquet) ----------
    idx_dir = tempfile.mkdtemp(prefix="ebp_bench_idx_")
    eng = Engine.from_documents(spark, SF_DIR)

    def run_build():
        shutil.rmtree(idx_dir, ignore_errors=True)
        build_index(
            spark, eng.docs.select("doc_id", "tokens"), idx_dir,
            n_segments=N_SEGMENTS, lineage=SF_DIR,
        )

    timeit("index_build", run_build)

    queries = _queries_100()

    # --- WAND top-k over the compressed index -----------------------------
    timeit(
        "wand_batch100",
        lambda: topk_from_index(spark, idx_dir, queries, k=10).count(),
    )

    # --- join-based scorer on the same workload ---------------------------
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in queries.items() for t in ts],
        "query_id string, term string",
    )
    timeit("join_batch100", lambda: bm25_topk(eng.score(qdf), 10).count())

    # --- percolation: 200 registered queries x full batch -----------------
    reg = CompiledRegistry.from_rows(_percolator_queries(200))
    batch = docs_raw.select("doc_id", F.col("text").alias("content"))

    def run_perc():
        res = percolate(spark, batch, reg)
        res.matches.count()
        res.unpersist()

    timeit("percolate_batch", run_perc)

    shutil.rmtree(idx_dir, ignore_errors=True)

    # --- synthetic 1M-doc section: large enough that fixed Spark job
    # overhead stops dominating (the sf0.1 documents fixture is 5k rows) ---
    from elasticsearch_batch_percolator_spark.corpus import synth_corpus
    from elasticsearch_batch_percolator_spark.functions.tokenizer import tokenize_code

    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_SYNTH", "1000000"))
    stages: dict[str, float] = {}
    if n_synth:
        synth_idx = tempfile.mkdtemp(prefix="ebp_bench_synth_")
        # corpus MATERIALIZED before timing, same principle as synth_batch
        # below: input arrival (parquet scan on a cluster) isn't the index
        # operator's cost. Un-persisted, the lazy synthetic generator +
        # tokenizer re-ran INSIDE build_index twice per rep (stats scan +
        # encode scan), so the timing was dominated by corpus generation
        # and its run-to-run host-contention noise, not by indexing.
        corpus = (
            synth_corpus(spark, n_synth, partitions=CPUS * 4)
            .select("doc_id", tokenize_code("content").alias("tokens"))
            .persist()
        )
        corpus.count()

        def run_synth_build():
            shutil.rmtree(synth_idx, ignore_errors=True)
            build_index(spark, corpus, synth_idx, n_segments=CPUS * 4)

        timeit("synth_index_build", run_synth_build)
        corpus.unpersist()

        timeit(
            "synth_wand_batch100",
            lambda: topk_from_index(spark, synth_idx, queries, k=10).count(),
        )

        # batch MATERIALIZED before timing: input arrival (stream/parquet on
        # a cluster) isn't the percolate operator's cost; without this the
        # lazy synthetic corpus is regenerated inside BOTH percolate jobs
        synth_batch = synth_corpus(spark, n_synth // 2, partitions=CPUS * 4).persist()
        synth_batch.count()
        # per-stage attribution (rep0 only): driver plan build (incl. the
        # gate-stats job, cached across reps) vs distributed execute
        plan_reps, exec_reps, total_reps = [], [], []
        for _ in range(max(1, REPS)):
            t0 = time.perf_counter()
            res = percolate(spark, synth_batch, reg)
            plan_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            res.matches.count()
            exec_s = time.perf_counter() - t0
            res.unpersist()
            plan_reps.append(round(plan_s, 3))
            exec_reps.append(round(exec_s, 3))
            total_reps.append(round(plan_s + exec_s, 3))
        all_reps["synth_percolate"] = total_reps
        best_i = total_reps.index(min(total_reps))
        stages["synth_percolate_plan_s"] = plan_reps[best_i]
        stages["synth_percolate_execute_s"] = exec_reps[best_i]
        stages["synth_percolate_plan_reps"] = plan_reps
        stages["synth_percolate_execute_reps"] = exec_reps
        timings["synth_percolate"] = min(total_reps)
        synth_batch.unpersist()
        shutil.rmtree(synth_idx, ignore_errors=True)

    total = sum(timings.values())

    # single-thread CPU calibration: this box's per-core speed swings 2x+
    # between benchmark windows (VM host contention — measured 1.2s vs
    # 2.55s for this exact loop on the same day). Recording it lets
    # cross-round comparisons normalize away host state.
    t0 = time.perf_counter()
    _mp_probe_burn(0)
    cpu_probe_s = round(time.perf_counter() - t0, 3)

    # MULTI-core calibration: the single-thread probe misses parallel
    # contention (a co-tenant saturating the memory bus slows 32-way work
    # 3x while the 1-thread probe barely moves — observed 2026-08-17:
    # synth_wand 2.0s -> 7.2s across windows at probe 2.3 -> 2.8).
    # CPUS tasks of the same burn through multiprocessing: the per-task
    # time under full parallelism is the normalizer for every
    # parallel-throughput number below.
    import multiprocessing as _mp

    t0 = time.perf_counter()
    with _mp.Pool(CPUS) as pool:
        pool.map(_mp_probe_burn, range(CPUS))
    mp_probe_s = round(time.perf_counter() - t0, 3)

    # memory-BANDWIDTH calibration: the register-only burns above miss bus
    # contention entirely (observed 2026-08-20: cpu/mp probes quiet-normal
    # while the 200MB random-gather ran 2.5-4.6x slower and bus-bound
    # percolation dipped with it). One task of scaling_bench's membw
    # control (~2s quiet): percolate/shuffle numbers should be read
    # against it the way CPU numbers are read against cpu_probe_s.
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(12345)
    arr = rng.integers(0, 1 << 30, size=25_000_000, dtype=np.int64)
    int(arr[rng.permutation(arr.size)].sum() & 0x7FFFFFFF)
    membw_probe_s = round(time.perf_counter() - t0, 3)
    del arr

    print(
        json.dumps(
            {
                "metric": "index_build+bm25_wand+percolate",
                "value": round(total, 3),
                "unit": "sec",
                "cpu_probe_s": cpu_probe_s,
                "mp_probe_s": mp_probe_s,
                "membw_probe_s": membw_probe_s,
                "bench_reps": REPS,
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "reps": all_reps,
                "sf": SF_DIR,
                "cpus": CPUS,
                "n_docs": n_docs,
                "index_files_per_sec": round(n_docs / timings["index_build"], 1),
                "wand_queries_per_sec": round(100 / timings["wand_batch100"], 2),
                "join_queries_per_sec": round(100 / timings["join_batch100"], 2),
                "percolate_docs_per_sec": round(n_docs / timings["percolate_batch"], 1),
                "stages": stages,
                **(
                    {
                        "synth_n_docs": n_synth,
                        "synth_index_files_per_sec": round(
                            n_synth / timings["synth_index_build"], 1
                        ),
                        "synth_wand_queries_per_sec": round(
                            100 / timings["synth_wand_batch100"], 2
                        ),
                        "synth_percolate_docs_per_sec": round(
                            (n_synth // 2) / timings["synth_percolate"], 1
                        ),
                    }
                    if n_synth
                    else {}
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

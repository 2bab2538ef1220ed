"""Append/compact soak on fresh seeds:
(a) compact_index of a 2x-appended index -> BIT-identical top-k (scores
    carry verbatim)
(b) term_stats df == recomputed df over the union corpus"""
import random, shutil, sys, tempfile, time
import numpy as np
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import (
    build_index, append_index, compact_index, read_term_stats)
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.session import get_spark

spark = get_spark("ebp-soak-app", cores=16)
spark.sparkContext.setLogLevel("ERROR")
base_rng = random.Random(7447)
t0 = time.time()
for it in range(4):
    seed = base_rng.randrange(1 << 31)
    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(800)]
    def mk(lo, n):
        return [(lo + i, " ".join(rng.choices(vocab, k=rng.randint(3, 40)))) for i in range(n)]
    base = mk(0, 12000); a1 = mk(12000, 5000); a2 = mk(17000, 3000)
    idx = tempfile.mkdtemp(prefix="ebp_soak_app_")
    dst = tempfile.mkdtemp(prefix="ebp_soak_cmp_"); shutil.rmtree(dst, ignore_errors=True)
    def tok(rows):
        df = spark.createDataFrame(rows, "doc_id long, content string")
        return Engine(spark, df, tokenizer="ws", cache=False).docs.select("doc_id", "tokens")
    build_index(spark, tok(base), idx, n_segments=int(rng.choice([3, 5, 8])))
    append_index(spark, tok(a1), idx, n_new_segments=int(rng.choice([2, 4])))
    append_index(spark, tok(a2), idx, n_new_segments=int(rng.choice([1, 3])))
    queries = {f"q{i}": [rng.choice(vocab) for _ in range(rng.randint(1, 4))] for i in range(40)}
    before = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 8))
              for r in topk_from_index(spark, idx, queries, k=10).collect()}
    # (a) compaction bit-identity
    compact_index(spark, idx, dst, target_segments=2)
    after = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 8))
             for r in topk_from_index(spark, dst, queries, k=10).collect()}
    assert after == before, f"seed {seed}: compaction changed top-k"
    # (b) term_stats == union df
    allrows = base + a1 + a2
    probe = [rng.choice(vocab) for _ in range(30)]
    stats = read_term_stats(spark, idx, probe)
    from collections import Counter
    dfq = Counter()
    for _, c in allrows:
        dfq.update(set(c.split()))
    exp = {t: dfq[t] for t in probe if dfq.get(t)}
    assert stats == exp, f"seed {seed}: term stats diverged"
    stats2 = read_term_stats(spark, dst, probe)
    assert stats2 == exp, f"seed {seed}: compacted term stats diverged"
    shutil.rmtree(idx, ignore_errors=True); shutil.rmtree(dst, ignore_errors=True)
    print(f"it{it} seed={seed}: ok (20k docs, 3 appends->compact) [{time.time()-t0:.0f}s]", flush=True)
print("PASS")
spark.stop()

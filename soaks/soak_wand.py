"""Fresh-seed rank-identity soak: random synthetic corpora + random query
batches; index top-k must equal the join scorer doc-for-doc,
score-for-score. Also soaks the per-segment kernel against the exhaustive
oracle on fresh rngs (repeated and boosted occurrences, gated candidates)."""
import random, shutil, sys, tempfile, time
import numpy as np
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elasticsearch_batch_percolator_spark.index.build import build_index
from elasticsearch_batch_percolator_spark.index.codec import decode_postings, encode_postings
from elasticsearch_batch_percolator_spark.operators.dsl_index import _idf, _segment_topk, _Spec
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from tests.util_oracle import segment_topk_exhaustive
from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk
from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.session import get_spark
from pyspark.sql import functions as F

# part A: kernel == exhaustive oracle, fresh seeds
rng = np.random.default_rng(20260820)
for trial in range(200):
    n_terms = rng.integers(1, 6)
    term_rows, idfs = {}, {}
    for t in range(n_terms):
        n_docs = int(rng.integers(1, 600))
        doc_ids = np.sort(rng.choice(8000, size=n_docs, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 20, n_docs).astype(np.int64)
        norms = rng.uniform(0.05, 2.2, n_docs)
        term_rows[f"t{t}"] = encode_postings(doc_ids, tfs, norms)
        idfs[f"t{t}"] = _idf(8000, n_docs)
    occ = [(str(t), float(rng.choice([1.0, 0.25, 2.0, 5.0])))
           for t in rng.choice(sorted(term_rows), size=int(rng.integers(1, 7)))]
    scored = sorted({t for t, _ in occ})
    weights = {t: sum(m * idfs[t] for u, m in occ if u == t) for t in scored}
    gate = str(rng.choice(sorted(term_rows)))
    docs_of = lambda ts: {d for t in ts for d in decode_postings(term_rows[t])[0].tolist()}
    cases = [([scored], None), ([scored, [gate]], docs_of(scored) & docs_of([gate])),
             ([[gate]], docs_of([gate]))]
    for k in (1, 7, 100):
        for groups, cand in cases:
            a = _segment_topk(term_rows, {"q": _Spec(groups, occ)}, idfs, k)
            b = segment_topk_exhaustive({t: term_rows[t] for t in scored}, weights, k, docs=cand)
            assert [d for _, d, _ in a] == [d for d, _ in b], f"trial={trial} k={k}"
            assert np.allclose([s for _, _, s in a], [s for _, s in b], atol=1e-12)
print("part A (200 fresh kernel trials): PASS", flush=True)

# part B: end-to-end Spark rank identity on fresh synthetic corpora
spark = get_spark("ebp-soak-wand", cores=16)
spark.sparkContext.setLogLevel("ERROR")
from elasticsearch_batch_percolator_spark.corpus import synth_corpus
from elasticsearch_batch_percolator_spark.functions.tokenizer import tokenize_code
base = random.Random(int(os.environ.get("META_SEED", "5151")))
t0 = time.time()
for it in range(4):
    seed = base.randrange(1 << 31)
    n = [20000, 50000, 30000, 12345][it]
    corpus = (synth_corpus(spark, n, partitions=32, seed=seed)
              if "seed" in synth_corpus.__code__.co_varnames else
              synth_corpus(spark, n, partitions=32))
    docs = corpus.select("doc_id", tokenize_code("content").alias("tokens")).persist()
    docs.count()
    idx = tempfile.mkdtemp(prefix="ebp_soak_idx_")
    build_index(spark, docs, idx, n_segments=[4, 16, 7, 1][it])
    # random query batch from the corpus vocabulary
    vocab = [r["term"] for r in docs.select(F.explode("tokens").alias("term"))
             .groupBy("term").count().orderBy(F.desc("count")).limit(400).collect()]
    qrng = random.Random(seed)
    queries = {f"q{i}": [qrng.choice(vocab) for _ in range(qrng.randint(1, 4))]
               for i in range(60)}
    got = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 9))
           for r in topk_from_index(spark, idx, queries, k=10).collect()}
    eng = Engine(spark, corpus, tokenizer="code")
    qdf = spark.createDataFrame([(q, t) for q, ts in queries.items() for t in ts],
                                "query_id string, term string")
    exp = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 9))
           for r in bm25_topk(eng.score(qdf), 10).collect()}
    assert set(got) == set(exp), f"it{it}: key sets differ"
    bad = [(k, got[k], exp[k]) for k in got
           if got[k][0] != exp[k][0] or abs(got[k][1] - exp[k][1]) > 1e-8]
    assert not bad, f"it{it}: {bad[:5]}"
    docs.unpersist(); shutil.rmtree(idx, ignore_errors=True)
    print(f"it{it} n={n} seed={seed}: rank-identical to the join scorer [{time.time()-t0:.0f}s]", flush=True)
print("PASS")
spark.stop()

"""Unicode index soak: corpora of CJK/emoji/combining/multibyte tokens ->
build_index (both encoders) -> topk_from_index == join scorer; term stats
lookups hit the right terms."""
import random, shutil, sys, tempfile, time
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import build_index, read_term_stats
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.operators.bm25 import bm25_topk
from elasticsearch_batch_percolator_spark.session import get_spark
import os

spark = get_spark("ebp-soak-uni", cores=8)
spark.sparkContext.setLogLevel("ERROR")
VOCAB = ["日本語", "データ", "🚀", "🚀🔥", "éclair", "éclair", "Ωmega",
         "ß", "ẞ", "ab", "a​b", "中文分词", "한국어", "русский",
         "ÿ", "￿", "z" * 300, "𝔘𝔫𝔦", "👩‍👩‍👧‍👦", "a"]
base = random.Random(606)
t0 = time.time()
for enc in ("arrow", "pandas"):
    for it in range(2):
        seed = base.randrange(1 << 31)
        rng = random.Random(seed)
        rows = [(i, " ".join(rng.choices(VOCAB, k=rng.randint(1, 12)))) for i in range(4000)]
        df = spark.createDataFrame(rows, "doc_id long, content string")
        eng = Engine(spark, df, tokenizer="ws")
        idx = tempfile.mkdtemp(prefix="ebp_soak_uni_")
        build_index(spark, eng.docs.select("doc_id", "tokens"), idx, n_segments=3, encoder=enc)
        queries = {f"q{i}": [rng.choice(VOCAB) for _ in range(rng.randint(1, 3))] for i in range(25)}
        for alg in ("auto", "wand", "exhaustive"):
            got = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in topk_from_index(spark, idx, queries, k=8, algorithm=alg).collect()}
            qdf = spark.createDataFrame([(q, t) for q, ts in queries.items() for t in ts],
                                        "query_id string, term string")
            exp = {(r["query_id"], r["rank"]): (int(r["doc_id"]), round(float(r["score"]), 9))
                   for r in bm25_topk(eng.score(qdf), 8).collect()}
            assert got == exp, f"enc={enc} seed={seed} alg={alg}: diverged"
        # term stats must resolve multibyte terms exactly
        stats = read_term_stats(spark, idx, VOCAB)
        exp_df = {r["term"]: r["df"] for r in eng.dfreq.filter(F.col("term").isin(VOCAB)).collect()}
        assert stats == exp_df, f"enc={enc}: stats diverged"
        shutil.rmtree(idx, ignore_errors=True)
        print(f"enc={enc} it{it} seed={seed}: ok [{time.time()-t0:.0f}s]", flush=True)
print("PASS")
spark.stop()

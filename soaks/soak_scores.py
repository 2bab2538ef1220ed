"""with_scores soak: independent python BM25 model over fresh random
multi-field batches/registries; per-field batch-local stats; scores must
match to 1e-6 before rounding (round_to=None)."""
import math, random, sys, time
import os; _R = os.path.dirname(os.path.dirname(os.path.abspath(__file__))); sys.path.insert(0, _R); sys.path.insert(0, os.path.join(_R, "tests"))
import test_multi_field_random as M
from collections import Counter
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.plans.query_plan import positive_term_weights
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.session import get_spark
from elasticsearch_batch_percolator_spark import BM25_B, BM25_K1

spark = get_spark("ebp-soak-sc", cores=16)
spark.sparkContext.setLogLevel("ERROR")
base = random.Random(int(os.environ.get("META_SEED", "1122")))
t0 = time.time()
FIELDS = {"f1": "f1", "f2": "f2", "num": ("num", "numeric"), "kids": ("kids", "nested")}
RESOLVE = {"f1": "f1", "f2": "f2"}  # token columns (num/kids not scored)
# the model sums w * bm25 per (field, term) key: two fields sharing one token
# column would weight that column's term once per field, not once
assert len(set(RESOLVE.values())) == len(RESOLVE), "RESOLVE must be injective"

for it in range(6):
    seed = base.randrange(1 << 63)
    rng = random.Random(seed)
    queries = {f"q{i}": M._rand_query(rng) for i in range(200)}
    docs = [M._rand_doc(rng, i) for i in range(120)]
    reg = CompiledRegistry.from_rows(list(queries.items()))
    df = spark.createDataFrame(
        docs, "doc_id long, f1 string, f2 string, num long, "
              "kids array<struct<ct: array<string>>>")
    res = percolate(spark, df, reg, fields=FIELDS)
    got = {(int(r["doc_id"]), r["query_id"]): float(r["score"])
           for r in res.with_scores(reg, round_to=None).collect()}
    res.unpersist()

    # python model
    toks = {i: {"f1": f1.split() if f1 else [], "f2": f2.split() if f2 else []}
            for i, f1, f2, num, kids in docs}
    stats = {}
    for tc in ("f1", "f2"):
        dls = {i: len(t[tc]) for i, t in toks.items()}
        n = len(dls)
        avgdl = sum(dls.values()) / n
        dfq = Counter()
        for i, t in toks.items():
            dfq.update(set(t[tc]))
        stats[tc] = (n, avgdl, dfq, dls)

    def bm25(tc, doc_i, term):
        n, avgdl, dfq, dls = stats[tc]
        tf = toks[doc_i][tc].count(term)
        if tf == 0:
            return 0.0
        dfv = dfq.get(term, 0)
        idf = math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
        return idf * (tf * (BM25_K1 + 1.0)) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dls[doc_i] / avgdl))

    exp = {}
    matched_q = {q for (_, q) in got}
    for i, f1, f2, num, kids in docs:
        d = {"f1": toks[i]["f1"], "f2": toks[i]["f2"],
             "kids": [{"ct": list(k[0])} for k in kids]}
        if num is not None:
            d["num"] = num
        for qid, cq in reg.queries.items():
            if not eval_plan(cq.plan, d):
                continue
            # per-OCCURRENCE qtf x boost weights (round-4 semantics:
            # Lucene sums every positive clause, so a term repeated in two
            # clauses — incl. twice inside one span_near — weights by its
            # multiplicity; positive_term_weights is the engine's contract)
            s = 0.0
            for (fld, t), w in positive_term_weights(cq.plan).items():
                tc = RESOLVE.get(fld)
                if tc is not None:
                    s += w * bm25(tc, i, t)
            exp[(i, qid)] = s
    assert set(got) == set(exp), f"seed {seed}: pair sets differ ({len(got)} vs {len(exp)})"
    bad = [(k, got[k], exp[k]) for k in got if abs(got[k] - exp[k]) > 1e-6]
    assert not bad, f"seed {seed}: {bad[:5]}"
    print(f"it{it} seed={seed}: ok |pairs|={len(got)} [{time.time()-t0:.0f}s]", flush=True)
print("PASS")
spark.stop()

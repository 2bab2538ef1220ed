"""Registry mutation soak: percolate -> unregister random subset +
register fresh queries -> percolate again, repeatedly, on one registry
object — every round must equal eval_plan ground truth (catches stale
batch-plan/prune/broadcast caches keyed on registry.version).

Each round percolates a fresh doc batch of a different size, so an even
round's replan reuses statistics taken on an earlier, differently sized
batch; odd rounds also register queries over vocabulary new to the
registry (terms, must_not terms, phrases and a wildcard on words
"n<round><letter>" that the round's docs start to carry), so their replan
re-probes the whole closure on the round's batch."""
import random, sys, time
import os; _R = os.path.dirname(os.path.dirname(os.path.abspath(__file__))); sys.path.insert(0, _R); sys.path.insert(0, os.path.join(_R, "tests"))
import test_multi_field_random as M
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.session import get_spark

spark = get_spark("ebp-soak-mut", cores=8)
spark.sparkContext.setLogLevel("ERROR")
FIELDS = {"f1": "f1", "f2": "f2", "num": ("num", "numeric"), "kids": ("kids", "nested")}
SCHEMA = ("doc_id long, f1 string, f2 string, num long, "
          "kids array<struct<ct: array<string>>>")
base = random.Random(int(os.environ.get("META_SEED", "191919")))


def new_vocab_queries(rng, words):
    """Queries whose every term is in ``words`` (new to the registry)."""
    f = rng.choice(["f1", "f2"])
    a, b = rng.sample(words, 2)
    return [
        {"term": {f: a}},
        {"bool": {"must": [{"term": {f: rng.choice(M.VOCAB)}}],
                  "must_not": [{"term": {f: b}}]}},
        {"phrase": {"field": f, "terms": [a, b]}},
        {"wildcard": {f: a[:2] + "*"}},
    ]


def batch(rng, start, n, words):
    """``n`` fresh docs; some f1/f2 texts carry words of ``words``."""
    docs = []
    for i in range(start, start + n):
        _, f1, f2, num, kids = M._rand_doc(rng, i)
        if words and rng.random() < 0.4:
            f1 = " ".join(filter(None, [f1, *rng.choices(words, k=2)]))
        if words and rng.random() < 0.4:
            f2 = " ".join(filter(None, [rng.choice(words), f2]))
        docs.append((i, f1, f2, num, kids))
    return docs


t0 = time.time()
for it in range(3):
    seed = base.randrange(1 << 63)
    rng = random.Random(seed)
    queries = {f"q{i}": M._rand_query(rng) for i in range(150)}
    reg = CompiledRegistry.from_rows(list(queries.items()))
    nxt, start, words, sizes = 150, 0, [], []
    for rnd in range(6):
        n = rng.randint(30, 200)
        sizes.append(n)
        docs = batch(rng, start, n, words)
        start += n
        df = spark.createDataFrame(docs, SCHEMA)
        res = percolate(spark, df, reg, fields=FIELDS)
        got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
        res.unpersist()
        exp = set()
        for i, f1, f2, num, kids in docs:
            d = {"f1": f1.split() if f1 else [], "f2": f2.split() if f2 else [],
                 "kids": [{"ct": list(k[0])} for k in kids]}
            if num is not None:
                d["num"] = num
            for qid, cq in reg.queries.items():
                if eval_plan(cq.plan, d):
                    exp.add((i, qid))
        assert got == exp, (f"seed {seed} round {rnd}: "
                            f"missing={sorted(exp-got)[:5]} extra={sorted(got-exp)[:5]}")
        # mutate: drop ~20 random, add ~20 fresh
        for qid in rng.sample(sorted(queries), 20):
            reg.unregister(qid); del queries[qid]
        fresh = [M._rand_query(rng) for _ in range(20)]
        if rnd % 2 == 1:
            # new vocabulary: the next batches' docs carry it too
            new = [f"n{rnd}{c}" for c in "abcd"]
            words += new
            fresh += new_vocab_queries(rng, new)
        for q in fresh:
            reg.register(f"q{nxt}", q); queries[f"q{nxt}"] = q; nxt += 1
    print(f"it{it} seed={seed}: ok 6 mutation rounds, batch sizes {sizes} "
          f"[{time.time()-t0:.0f}s]", flush=True)
print("PASS")
spark.stop()

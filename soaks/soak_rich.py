"""Rich-grammar percolation soak vs eval_plan: sloppy phrases, wildcard
phrases, span or/not nesting, msm spec strings, nested blocks with inner
negation, terms queries — across jv modes and id dtypes."""
import os, random, sys, time
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.session import get_spark

spark = get_spark("ebp-soak-rich", cores=16)
spark.sparkContext.setLogLevel("ERROR")
V = list("abcdefg")
base = random.Random(int(os.environ.get("META_SEED", "987654")))
t0 = time.time()

def span(rng, f, d=2):
    k = rng.randrange(4 if d > 0 else 1)
    if k == 0:
        return {"span_term": {f: rng.choice(V)}}
    if k == 1:
        return {"span_near": {"clauses": [span(rng, f, d-1) for _ in range(rng.randint(2, 3))],
                              "slop": rng.randint(0, 3), "in_order": rng.random() < 0.5}}
    if k == 2:
        return {"span_or": {"clauses": [span(rng, f, d-1) for _ in range(rng.randint(1, 3))]}}
    return {"span_not": {"include": span(rng, f, d-1), "exclude": span(rng, f, d-1)}}

def rich_query(rng):
    f = rng.choice(["f1", "f2"])
    k = rng.randrange(14)
    if k == 10:  # round-5 DSL-compat: dis_max -> any-of
        return {"dis_max": {"queries": [rich_query(rng) for _ in range(rng.randint(1, 3))],
                            "tie_breaker": rng.random()}}
    if k == 11:  # boosting -> positive only (negative demotes, never excludes)
        return {"boosting": {"positive": rich_query(rng),
                             "negative": {"term": {f: rng.choice(V)}},
                             "negative_boost": rng.random()}}
    if k == 12:  # common -> analyzed disjunction (+optional msm / and-op)
        spec = {"query": " ".join(rng.choices(V, k=rng.randint(1, 4))),
                "cutoff_frequency": 0.01}
        if rng.random() < 0.3:
            spec["low_freq_operator"] = "and"
        elif rng.random() < 0.3:
            spec["minimum_should_match"] = rng.randint(1, 2)
        return {"common": {f: spec}}
    if k == 13:  # filtered -> bool{must,filter}; random per-clause boosts
        return {"filtered": {
            "query": {"term": {f: {"value": rng.choice(V),
                                   "boost": rng.choice([0.5, 2.0, 3.0])}}},
            "filter": rich_query(rng)}}
    if k == 0:
        return {"phrase": {"field": f, "terms": rng.choices(V, k=rng.randint(2, 4)),
                           "slop": rng.randint(1, 3)}}
    if k == 1:
        prods = [
            {"term": {f: rng.choice(V)}} if rng.random() < 0.5
            else {"wildcard": {f: rng.choice(["a*", "?b", "c?", "*"])}}
            for _ in range(rng.randint(2, 3))]
        return {"wildcard_phrase": {"field": f, "producers": prods}}
    if k == 2:
        return span(rng, f, 2)
    if k == 3:
        msm = rng.choice(["2", "-1", "25%", "-25%", "2<-25% 5<3", "75%"])
        return {"bool": {"should": [{"term": {f: rng.choice(V)}} for _ in range(rng.randint(1, 6))],
                         "minimum_should_match": msm}}
    if k == 4:
        return {"nested": {"path": "kids", "query": {"bool": {
            "must": [{"term": {"ct": rng.choice(V)}}],
            "must_not": [{"term": {"ct": rng.choice(V)}}]}}}}
    if k == 5:
        return {"terms": {f: [rng.choice(V) for _ in range(rng.randint(1, 4))],
                          "minimum_should_match": rng.randint(1, 2)}}
    if k == 6:
        return {"bool": {"must": [rich_query(rng)], "must_not": [{"term": {f: rng.choice(V)}}]}}
    if k == 7:
        return {"match": {f: " ".join(rng.choices(V, k=rng.randint(1, 3)))}}
    if k == 8:
        return {"range": {"num": {"gte": rng.randint(0, 5)}}}
    return {"wildcard": {f: rng.choice(["a*", "?b", "*c*", "d", "*"])}}

fail = 0
for it in range(12):
    seed = base.randrange(1 << 63)
    jv = ["auto", "force", "off"][it % 3]
    percolate_mod._JV_MODE = jv
    rng = random.Random(seed)
    queries = {}
    i = 0
    while len(queries) < 250:
        try:
            q = rich_query(rng)
            CompiledRegistry.from_rows([(f"t{i}", q)])  # validate shape
            queries[f"q{len(queries)}"] = q
        except Exception:
            pass
        i += 1
    docs = []
    for j in range(130):
        f1 = " ".join(rng.choices(V, k=rng.randint(0, 9)))
        f2 = " ".join(rng.choices(V, k=rng.randint(0, 9)))
        num = rng.randint(0, 9) if rng.random() < 0.7 else None
        kids = [(rng.choices(V, k=rng.randint(0, 4)),) for _ in range(rng.randint(0, 3))]
        docs.append((j, f1, f2, num, kids))
    reg = CompiledRegistry.from_rows(list(queries.items()))
    df = spark.createDataFrame(
        docs, "doc_id long, f1 string, f2 string, num long, "
              "kids array<struct<ct: array<string>>>")
    res = percolate(spark, df, reg,
                    fields={"f1": "f1", "f2": "f2", "num": ("num", "numeric"),
                            "kids": ("kids", "nested")})
    got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    res.unpersist()
    exp = set()
    for j, f1, f2, num, kids in docs:
        d = {"f1": f1.split() if f1 else [], "f2": f2.split() if f2 else [],
             "kids": [{"ct": list(k[0])} for k in kids]}
        if num is not None:
            d["num"] = num
        for qid, cq in reg.queries.items():
            if eval_plan(cq.plan, d):
                exp.add((j, qid))
    if got != exp:
        fail += 1
        diffs = sorted(exp - got)[:5] + sorted(got - exp)[:5]
        print(f"FAIL seed {seed} jv={jv}: missing={sorted(exp-got)[:5]} extra={sorted(got-exp)[:5]}")
        for dj, dq in diffs[:3]:
            print("   query:", queries[dq], "doc:", docs[dj])
    print(f"it{it:02d} seed={seed} jv={jv}: {'ok' if got == exp else 'FAIL'} |exp|={len(exp)} [{time.time()-t0:.0f}s]", flush=True)
print("PASS" if fail == 0 else f"FAIL {fail}")
spark.stop()

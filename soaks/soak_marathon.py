"""Marathon soak: cycles the two strongest percolation generators
(multi-field and rich-grammar) at varied sizes/jv-modes/id-dtypes with a
fresh meta-seed per invocation (META_SEED env; ROUNDS env, default 20).
Prints one line per round; any mismatch dumps the repro seed + diff."""
import os, random, sys, time
_R = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _R); sys.path.insert(0, os.path.join(_R, "tests"))
import test_multi_field_random as M
import importlib.util as _iu
_spec = _iu.spec_from_file_location("soak_rich", os.path.join(_R, "soaks", "soak_rich.py"))
from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.session import get_spark

# import the rich generator without executing soak_rich's main body
def _rich_functions():
    src = open(os.path.join(_R, "soaks", "soak_rich.py")).read()
    head = src.split("fail = 0")[0]
    ns = {"__file__": os.path.join(_R, "soaks", "soak_rich.py")}
    exec(compile(head.replace('spark = get_spark("ebp-soak-rich", cores=16)',
                              'spark = None').replace(
        'spark.sparkContext.setLogLevel("ERROR")', ''), "rich_head", "exec"), ns)
    return ns["rich_query"]

rich_query = _rich_functions()


def dslx_query(rng):
    """Round-4 DSL tail over the marathon's 1-letter vocabulary — fuzzy at
    distance 1 on single chars matches EVERY single-letter token (maximal
    expansion fan-out: each pattern row joins the whole dictionary), plus
    regexp / query_string / span_first / match-fuzziness shapes."""
    V = M.VOCAB
    f = rng.choice(["f1", "f2"])
    k = rng.randrange(8)
    if k == 7:
        # ids: values span both id dtypes the marathon runs (long rounds
        # match the bare ints, string rounds the d-prefixed forms)
        vals = [str(rng.randrange(300)) for _ in range(rng.randint(1, 4))] + [
            f"d{rng.randrange(300):05d}" for _ in range(rng.randint(0, 3))]
        if rng.random() < 0.5:
            return {"ids": {"values": vals}}
        return {"bool": {"must": [{"term": {f: rng.choice(V)}}],
                         rng.choice(["filter", "must_not"]):
                         [{"ids": {"values": vals}}]}}
    if k == 0:
        return {"fuzzy": {f: {"value": rng.choice(V + ["ab", "abc"]),
                              "fuzziness": rng.randint(1, 2),
                              "prefix_length": rng.choice([0, 0, 1])}}}
    if k == 1:
        return {"regexp": {f: rng.choice(["[ab]", "a|b|c", ".", "a.?", "[^a]"])}}
    if k == 2:
        return {"query_string": {"default_field": f, "query": rng.choice([
            "a AND b", "a OR (b AND c)", "+a -b", 'a "b c"', "NOT a",
            "a~1", "b* AND NOT c"])}}
    if k == 3:
        return {"span_first": {"match": {"span_term": {f: rng.choice(V)}},
                               "end": rng.randint(1, 4)}}
    if k == 4:
        return {"match": {f: {"query": " ".join(rng.choices(V, k=2)),
                              "fuzziness": 1,
                              "operator": rng.choice(["and", "or"])}}}
    if k == 5:
        return {"constant_score": {"filter": {"bool": {
            "must": [{"term": {f: rng.choice(V)}}],
            "must_not": [{"fuzzy": {f: {"value": rng.choice(V),
                                        "fuzziness": 1}}}]}}}}
    return {"bool": {"must": [{"regexp": {f: rng.choice(["[ab]", "c|d"])}}],
                     "should": [{"fuzzy": {f: {"value": rng.choice(V),
                                               "fuzziness": 1}}},
                                {"term": {f: rng.choice(V)}}],
                     "minimum_should_match": 1}}


spark = get_spark("ebp-soak-marathon", cores=16)
spark.sparkContext.setLogLevel("ERROR")
FIELDS = {"f1": "f1", "f2": "f2", "num": ("num", "numeric"), "kids": ("kids", "nested")}
meta = int(os.environ.get("META_SEED", "1"))
rounds = int(os.environ.get("ROUNDS", "20"))
base = random.Random(meta)
t0 = time.time()
fail = 0
for it in range(rounds):
    seed = base.randrange(1 << 63)
    rng = random.Random(seed)
    gen = rng.choice(["mf", "rich", "dslx"])
    nq = rng.choice(
        [int(x) for x in os.environ.get("NQ_CHOICES", "150,300,600,1000").split(",")])
    nd = rng.choice(
        [int(x) for x in os.environ.get("ND_CHOICES", "80,150,300").split(",")])
    jv = rng.choice(["auto", "force", "off"])
    percolate_mod._JV_MODE = jv
    str_ids = rng.random() < 0.3
    queries = {}
    while len(queries) < nq:
        try:
            q = (M._rand_query(rng) if gen == "mf"
                 else rich_query(rng) if gen == "rich"
                 else dslx_query(rng))
            CompiledRegistry.from_rows([("probe", q)])
            queries[f"q{len(queries)}"] = q
        except Exception:
            pass
    docs = [M._rand_doc(rng, i) for i in range(nd)]
    reg = CompiledRegistry.from_rows(list(queries.items()))
    if str_ids:
        rows = [(f"d{i:05d}", f1, f2, num, kids) for i, f1, f2, num, kids in docs]
        schema = ("doc_id string, f1 string, f2 string, num long, "
                  "kids array<struct<ct: array<string>>>")
    else:
        rows, schema = docs, ("doc_id long, f1 string, f2 string, num long, "
                              "kids array<struct<ct: array<string>>>")
    df = spark.createDataFrame(rows, schema)
    res = percolate(spark, df, reg, fields=FIELDS)
    got = {(str(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    res.unpersist()
    exp = set()
    for i, f1, f2, num, kids in docs:
        d = {"f1": f1.split() if f1 else [], "f2": f2.split() if f2 else [],
             "kids": [{"ct": list(k[0])} for k in kids]}
        if num is not None:
            d["num"] = num
        did = f"d{i:05d}" if str_ids else str(i)
        d["_id"] = did
        for qid, cq in reg.queries.items():
            if eval_plan(cq.plan, d):
                exp.add((did, qid))
    ok = got == exp
    if not ok:
        fail += 1
        print(f"FAIL seed={seed} gen={gen} nq={nq} nd={nd} jv={jv} str={str_ids}")
        print(f"  missing={sorted(exp - got)[:6]} extra={sorted(got - exp)[:6]}")
    print(f"r{it:03d} seed={seed} gen={gen} nq={nq} nd={nd} jv={jv} str={int(str_ids)}: "
          f"{'ok' if ok else 'FAIL'} |exp|={len(exp)} [{time.time()-t0:.0f}s]", flush=True)
print("PASS" if fail == 0 else f"FAIL {fail}/{rounds}")
spark.stop()
sys.exit(1 if fail else 0)

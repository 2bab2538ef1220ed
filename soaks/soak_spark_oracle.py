"""Fresh-seed Spark percolation soak: random multi-field/nested/numeric
registries vs eval_plan ground truth, cycling the join-verify lane mode
(percolate._JV_MODE: auto/force/off) and long-vs-string doc ids."""
import os, random, sys, time
import os; _R = os.path.dirname(os.path.dirname(os.path.abspath(__file__))); sys.path.insert(0, _R); sys.path.insert(0, os.path.join(_R, "tests"))
import test_multi_field_random as M
from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from elasticsearch_batch_percolator_spark.session import get_spark

spark = get_spark("ebp-soak", cores=16)
spark.sparkContext.setLogLevel("ERROR")
base = random.Random(int(os.environ.get("META_SEED", "818283")))
t0 = time.time()
fail = 0
for it in range(18):
    seed = base.randrange(1 << 63)
    jv = ["auto", "force", "off"][it % 3]
    str_ids = it % 2 == 1
    percolate_mod._JV_MODE = jv
    rng = random.Random(seed)
    queries = {f"q{i}": M._rand_query(rng) for i in range(300)}
    docs = [M._rand_doc(rng, i) for i in range(150)]
    reg = CompiledRegistry.from_rows(list(queries.items()))
    if str_ids:
        rows = [(f"d{i:04d}", f1, f2, num, kids) for i, f1, f2, num, kids in docs]
        schema = ("doc_id string, f1 string, f2 string, num long, "
                  "kids array<struct<ct: array<string>>>")
    else:
        rows = docs
        schema = ("doc_id long, f1 string, f2 string, num long, "
                  "kids array<struct<ct: array<string>>>")
    df = spark.createDataFrame(rows, schema)
    res = percolate(spark, df, reg,
                    fields={"f1": "f1", "f2": "f2", "num": ("num", "numeric"),
                            "kids": ("kids", "nested")})
    got = {(str(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    res.unpersist()
    expected = set()
    for i, f1, f2, num, kids in docs:
        doc = {"f1": f1.split() if f1 else [], "f2": f2.split() if f2 else [],
               "kids": [{"ct": list(k[0])} for k in kids]}
        if num is not None:
            doc["num"] = num
        did = f"d{i:04d}" if str_ids else str(i)
        for qid, cq in reg.queries.items():
            if eval_plan(cq.plan, doc):
                expected.add((did, qid))
    missing, extra = expected - got, got - expected
    status = "ok" if not missing and not extra else "FAIL"
    if status == "FAIL":
        fail += 1
        print(f"seed {seed} jv={jv} str={str_ids}: missing={sorted(missing)[:6]} extra={sorted(extra)[:6]}")
    print(f"it{it:02d} seed {seed} jv={jv} str_ids={str_ids}: {status} "
          f"|exp|={len(expected)} [{time.time()-t0:.0f}s]", flush=True)
print("PASS" if fail == 0 else f"FAIL {fail}")
spark.stop()

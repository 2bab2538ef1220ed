import sys, io, os, contextlib, tempfile
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from elasticsearch_batch_percolator_spark.session import get_spark
from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import build_index, read_postings
from elasticsearch_batch_percolator_spark.operators import percolate as percolate_mod
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from pyspark.sql import functions as F

spark = get_spark('plans', cores=8)
SF='/root/testdata/sf0.01'
eng = Engine.from_documents(spark, SF)

def grab(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

sections = []

# 1. postings scan with term pushdown
idx = tempfile.mkdtemp()+"/idx"
build_index(spark, eng.docs.select("doc_id","tokens"), idx, n_segments=4)
p1 = grab(read_postings(spark, idx, ["spark","join"]).select("segment_id","term","df"))
sections.append(("Posting-list scan: term IN-filter pushed to parquet (files sorted by term -> row-group pruning); only the projected columns read (`ReadSchema`)", p1))

# 2. BM25 join plan
qdf = spark.createDataFrame([("q","spark"),("q","join")], "query_id string, term string")
p2 = grab(eng.score(qdf))
sections.append(("Join-based BM25: query terms BROADCAST (BroadcastHashJoin), single shuffle = final groupBy(query_id, doc_id); arithmetic inside WholeStageCodegen", p2))

# 3. percolate phase-1
reg = CompiledRegistry.from_rows([("a", {"term": {"content": "spark"}}), ("b", {"bool": {"must": [{"term": {"content": "the"}}, {"term": {"content": "fox"}}]}})])
docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", F.col("text").alias("content"))
p3 = grab(percolate(spark, docs, reg).matches)
sections.append(("Percolation phase 1: broadcast rarest-group gate table joined to the persisted batch (doc, field, term) rows; phase 2 = one Arrow UDF over doc-grouped candidates (broadcast compiled plans) — candidate volume is sum_q df(gate_q), never batch x queries", p3))

# 4. join-verify lane: term + 2-term-phrase conjunction fully in Catalyst
percolate_mod._JV_MODE = "force"
reg_jv = CompiledRegistry.from_rows([
    ("jv1", {"bool": {"must": [{"term": {"content": "spark"}},
                                {"phrase": {"field": "content", "terms": ["the", "fast"]}}],
             "must_not": [{"term": {"content": "wolf"}}]}}),
])
p4 = grab(percolate(spark, docs, reg_jv).matches)
percolate_mod._JV_MODE = "auto"
sections.append(("Join-verify lane (forced): the whole conjunction — required term, required bigram (2-term phrase), forbidden term — is ONE broadcast hash join of the (doc, fcol, term) + bigram streams against the need/forbid table, a partial-aggregating HashAggregate on (doc_id, query_id), and a count filter. No Python, no Arrow; every operator inside WholeStageCodegen", p4))

# 5. join-verify with a 3-term slop-0 phrase: trigram stream in the smallint
# offset fcol space — long phrases stay JVM-side
percolate_mod._JV_MODE = "force"
reg_g3 = CompiledRegistry.from_rows([
    ("g3", {"phrase": {"field": "content", "terms": ["the", "fast", "spark"]}}),
])
p5 = grab(percolate(spark, docs, reg_g3).matches)
percolate_mod._JV_MODE = "auto"
sections.append(("Join-verify n-gram generalization: a 3-term slop-0 phrase is EXACT trigram containment — the contiguous-trigram stream (transform/sequence/slice inside Generate) joins the broadcast need table under fcol + 64*(n-1); same single aggregate, still zero Python", p5))

# 6. IVF ANN probe over the written partitioned index: centroid_id IN-filter
# prunes unprobed bucket partitions at scan planning (PartitionFilters)
from elasticsearch_batch_percolator_spark.functions.similarity import (
    cosine_topk_ivf_pruned, ivf_assign, kmeans_fit, write_ivf_index,
)
emb = spark.read.parquet(f"{SF}/embeddings.parquet")
cents = kmeans_fit(emb, n=8, iters=2)
ivf_dir = tempfile.mkdtemp() + "/ivf"
write_ivf_index(ivf_assign(emb, cents), ivf_dir)
qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
p6 = grab(cosine_topk_ivf_pruned(spark, ivf_dir, cents, qv, k=10, n_probe=3))
sections.append(("IVF ANN partition-pruned probe: the index is written partitionBy(centroid_id); the probe's IN-filter appears as PartitionFilters on the scan — unprobed buckets are never read (at 256 buckets an n_probe=8 query touches ~3% of the bytes)", p6))


# 7. segment compaction: broadcast old->new segment map join + ONE hash
# repartition on the new id; whole segments merge locally in the Arrow pass
from elasticsearch_batch_percolator_spark.index.build import (
    _compact_merged, append_index, read_manifest,
)
docs_tok = eng.docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "tokens")
append_index(spark, docs_tok, idx, n_new_segments=2)
p7 = grab(_compact_merged(spark, idx, read_manifest(idx), 2)[1])
sections.append(("Segment compaction: old segments route to merged ones via a BROADCAST segment-map join (BroadcastHashJoin on the partition column), ONE hash Exchange on the new segment id, then the posting merge (list_flatten + decode_docs → lexsort → encode_segment) runs whole-segment-local in a single MapInArrow pass — bytes moved ~= compressed index size, no token rows, no groupBy(term)", p7))


# 8. full-DSL index search (round 5): one scan covers every query's
# vocabulary (term IN pushdown), per-segment retrieve+verify+score in a
# single applyInPandas, (segments x k) rows into the final rank window
from elasticsearch_batch_percolator_spark.operators.dsl_index import (
    dsl_topk_from_index,
)
pos_idx = tempfile.mkdtemp() + "/posidx"
build_index(spark, eng.docs.select("doc_id", "tokens"), pos_idx,
            n_segments=4, positions=True)
p8 = grab(dsl_topk_from_index(spark, pos_idx, {
    "q": {"bool": {"must": [{"term": {"content": "spark"}},
                            {"phrase": {"field": "content",
                                        "terms": ["the", "fast"]}}],
                   "must_not": [{"term": {"content": "window"}}]}},
}, k=10))
sections.append(("Full-DSL index search: ONE posting scan with the combined vocabulary IN-filter pushed to parquet; gates + pseudo-doc verify + weighted BM25 all inside one per-segment FlatMapGroupsInPandas; the only exchange after it is the (segments x k)-row rank window", p8))


def trim(s, n=80):
    lines = [l.rstrip() for l in s.splitlines()]
    return "\n".join(lines[:n])

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), 'PLANS.md'),'w') as f:
    f.write("""# PLANS — physical-plan evidence (`.explain(\"formatted\")`)

Captured from the real plans at sf0.01 (regenerate with
`python gen_plans.py`, or any of the calls below in a shell).
What to look for in each plan is stated above it; these are the properties
the engine's 100 TB story depends on (SURVEY.md §4).

""")
    for title, plan in sections:
        f.write(f"## {title}\n\n```\n{trim(plan)}\n```\n\n")
print("written")
spark.stop()

"""Driver-side stage profile of registration warmup at N queries.

Attributes the one-time driver python remaining in the 10^6/10^7 registry
path (BASELINE.md round-4 reading: _jv_structs 14.5s, est_q ~13s,
verify-split/assembly ~27s at 1M) so the flat-table work targets the real
cost centers. Stages timed separately:

  compile        distributed blob compile (executor-side parse + pickle)
  gate_meta      gate_verify_ids() (the per-query metadata sweep)
  broadcast      broadcast_verify_plans() (columnar assembly + ship)
  layout         warmup()'s layout prefill for the single-field layout
                 (_jv_structs + the batch_terms prune closure)
  sample_perc    one full percolation over a 6k-doc sample (lane
                 decision, gate choice, worker warmup)
  rep0/rep1      20k-doc production batches (cold/warm check)

    python soaks/profile_warmup.py [n_queries] [--cprofile]
"""
import cProfile
import io
import os
import pstats
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/ebp-spark")
os.environ.setdefault("EBP_IO_CODEC", "lz4")

from elasticsearch_batch_percolator_spark.corpus import _full_vocab, synth_corpus
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.session import get_spark
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
DO_CPROF = "--cprofile" in sys.argv
VOCAB = list(_full_vocab(10000))
TAIL = VOCAB[len(VOCAB) // 3:]

rng = random.Random(42)
rows = []
for i in range(N):
    kind = i % 10
    if kind < 6:
        terms = rng.sample(TAIL, rng.randint(3, 5))
        q = {"bool": {"must": [{"term": {"content": t}} for t in terms]}}
    elif kind < 8:
        q = {"phrase": {"field": "content", "terms": rng.sample(TAIL, 2)}}
    elif kind < 9:
        terms = rng.sample(TAIL, 4)
        q = {"bool": {"must": [{"term": {"content": t}} for t in terms[:3]],
                      "must_not": [{"term": {"content": terms[3]}}]}}
    else:
        terms = rng.sample(TAIL, 4)
        q = {"wildcard_phrase": {"field": "content", "producers": [
            {"term": {"content": terms[0]}},
            {"wildcard": {"content": terms[1][:4] + "*"}}]}}
    rows.append((f"q{i}", q))

# PROF_CORES: at 10^7 queries the per-python-worker columnar verify
# broadcast is multi-GB; 32 workers x that does not fit one 125GB box
# (each EXECUTOR holds one copy on a real cluster). local[8] keeps the
# resident set honest for the large-registry study.
spark = get_spark("profwarm", cores=int(os.environ.get("PROF_CORES", "32")))
spark.sparkContext.setLogLevel("ERROR")


def stage(name, fn):
    prof = cProfile.Profile() if DO_CPROF else None
    t0 = time.perf_counter()
    if prof:
        prof.enable()
    out = fn()
    if prof:
        prof.disable()
    dt = time.perf_counter() - t0
    print(f"[stage] {name}: {dt:.2f}s", flush=True)
    if prof and dt > 3:
        s = io.StringIO()
        pstats.Stats(prof, stream=s).sort_stats("cumulative").print_stats(12)
        print("\n".join(s.getvalue().splitlines()[4:22]), flush=True)
    return out


import json as _json

import pandas as _pd

qpdf = _pd.DataFrame(
    {"query_id": [qid for qid, _ in rows],
     "query_json": [_json.dumps(qj) for _, qj in rows]}
)
reg = stage("compile", lambda: CompiledRegistry.from_df(
    spark.createDataFrame(qpdf), distributed=True))
stage("gate_meta", lambda: len(reg.gate_verify_ids()))
stage("broadcast", lambda: reg.broadcast_verify_plans(spark))
# the verify broadcast is already derived: warmup() now pays only the
# layout prefill percolate's first batch reuses
stage("layout", lambda: reg.warmup(spark))

warm = synth_corpus(spark, 6000, partitions=128, vocab_size=10000)


def _sample():
    res = percolate(spark, warm, reg)
    res.matches.count()
    res.unpersist()


stage("sample_perc", _sample)

for rep in range(2):
    b = synth_corpus(spark, 20000, partitions=128, vocab_size=10000).cache()
    b.count()

    def _run(b=b):
        res = percolate(spark, b, reg)
        n = res.matches.count()
        res.unpersist()
        return n

    n = stage(f"rep{rep}", _run)
    print(f"  rep{rep} matches={n}")
spark.stop()

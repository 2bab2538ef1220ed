"""Codec fuzz: posting-row round-trip at adversarial shapes (single-element,
giant gaps, 2^55 doc ids, max tfs), and decode_docs over many rows back to
back."""
import sys
import numpy as np
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elasticsearch_batch_percolator_spark.index.codec import (
    decode_docs, decode_postings, encode_postings)

rng = np.random.default_rng(20260820)
rows = []
for trial in range(200):
    n = int(rng.integers(1, 1000))
    space = int(rng.integers(n, max(n + 1, 2**int(rng.integers(10, 40)))))
    doc_ids = np.sort(rng.choice(space, size=n, replace=False)).astype(np.int64)
    if trial % 7 == 0:
        doc_ids += (2**55 - space - 2)  # giant absolute ids
    tfs = rng.integers(1, 255, size=n).astype(np.int64)
    norms = rng.uniform(1e-9, 1e6, size=n)
    row = encode_postings(doc_ids, tfs, norms)
    d, t, nr = decode_postings(row)
    assert row["df"] == n and row["cf"] == int(tfs.sum())
    assert np.array_equal(d, doc_ids), f"postings trial {trial}"
    assert np.array_equal(t, tfs)
    assert nr.tobytes() == norms.tobytes()
    rows.append((row, doc_ids))
# compaction's path: many rows' docs back to back, one decode_docs
for trial in range(50):
    pick = [rows[i] for i in rng.choice(len(rows), size=int(rng.integers(1, 12)))]
    ids = decode_docs(np.concatenate([r["docs"] for r, _ in pick]), [r["df"] for r, _ in pick])
    assert np.array_equal(ids, np.concatenate([d for _, d in pick])), f"stream trial {trial}"
print("postings: PASS (200 rows incl. 2^55 ids, 50 concatenated-row decodes)")

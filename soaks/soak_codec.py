"""Codec fuzz: varint + positions + posting-row round-trip at adversarial
shapes (64-bit boundaries, single-element, giant gaps, max tfs), and
decode_stream over many rows back to back."""
import random, sys
import numpy as np
import os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from elasticsearch_batch_percolator_spark.index.codec import (
    varint_encode, varint_decode, varint_encode_lens,
    encode_positions, decode_positions, encode_postings, decode_postings, decode_stream)

rng = np.random.default_rng(20260820)
# varint: boundary values
edge = np.array([0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**28 - 1,
                 2**28, 2**35, 2**42, 2**49, 2**56, 2**62, 2**63 - 1,
                 2**63, 2**64 - 1], dtype=np.uint64)
assert np.array_equal(varint_decode(varint_encode(edge)), edge)
for trial in range(300):
    n = int(rng.integers(0, 2000))
    bits = int(rng.integers(1, 64))
    vals = rng.integers(0, 1 << bits, size=n, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals), f"varint trial {trial}"
    buf, lens = varint_encode_lens(vals)
    assert bytes(buf) == varint_encode(vals)
    # per-value lens must sum to stream length
    assert lens.sum() == len(buf)
print("varint: PASS (300 trials + 64-bit edges)")

for trial in range(200):
    n = int(rng.integers(1, 300))
    tfs = rng.integers(1, 30, size=n).astype(np.int64)
    pos = np.concatenate([np.sort(rng.choice(10_000, size=t, replace=False)) for t in tfs]).astype(np.int64)
    got = decode_positions(encode_positions(pos, tfs), tfs)
    assert np.array_equal(got, pos), f"positions trial {trial}"
print("positions: PASS (200 trials)")

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
    rows.append((row, doc_ids, tfs))
# compaction's path: many rows' payloads back to back, one decode_stream
for trial in range(50):
    pick = [rows[i] for i in rng.choice(len(rows), size=int(rng.integers(1, 12)))]
    ids, tfs, _ = decode_stream(b"".join(r["doc_bytes"] for r, _, _ in pick),
                                [r["df"] for r, _, _ in pick],
                                b"".join(r["tf_bytes"] for r, _, _ in pick))
    assert np.array_equal(ids, np.concatenate([d for _, d, _ in pick])), f"stream trial {trial}"
    assert np.array_equal(tfs, np.concatenate([t for _, _, t in pick]))
print("postings: PASS (200 rows incl. 2^55 ids, 50 concatenated-row streams)")

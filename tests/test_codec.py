"""Posting-block codec round-trip (SURVEY.md §5 test plan item 1)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from elasticsearch_batch_percolator_spark.index.codec import (
    decode_block,
    decode_positions,
    encode_postings,
    varint_decode,
    varint_encode,
)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(st.integers(0, 2**63 - 1), max_size=300))
def test_varint_round_trip(values):
    arr = np.array(values, dtype=np.uint64)
    assert list(varint_decode(varint_encode(arr))) == values


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**12), st.integers(1, 1000), st.floats(0.01, 3.0)),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
def test_postings_round_trip(postings):
    doc_ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    norms = np.array([p[2] for p in postings], dtype=np.float64)
    blocks = encode_postings(doc_ids, tfs, norms, block=64)

    order = np.argsort(doc_ids)
    got_docs, got_tfs, got_norms = [], [], []
    prev_max = -1
    for b in blocks:
        d, t, nr = decode_block(b)
        assert b["n"] == len(d) == len(t) == len(nr)
        assert b["max_doc"] == d[-1]
        assert abs(b["max_norm"] - nr.max()) < 1e-15
        assert prev_max < d[0]  # blocks ordered, docs strictly increasing
        assert (np.diff(d) > 0).all()
        prev_max = int(d[-1])
        got_docs.extend(d)
        got_tfs.extend(t)
        got_norms.extend(nr)
    assert got_docs == list(doc_ids[order])
    assert got_tfs == list(tfs[order])
    assert np.allclose(got_norms, norms[order], rtol=0, atol=0)


def test_block_size_boundary():
    n = 128 * 3 + 1
    ids = np.arange(n, dtype=np.int64) * 7
    blocks = encode_postings(ids, np.ones(n, dtype=np.int64), np.ones(n), block=128)
    assert [b["n"] for b in blocks] == [128, 128, 128, 1]


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**12), st.integers(1, 1000), st.floats(0.01, 3.0)),
        min_size=2,
        max_size=600,
        unique_by=lambda t: t[0],
    )
)
def test_decode_term_batched_equals_per_block(postings):
    """operators/dsl_index._decode_term (one varint pass over all blocks)
    must reproduce per-block decode_block + decode_positions exactly,
    across block boundaries."""
    from elasticsearch_batch_percolator_spark.operators.dsl_index import _decode_term

    postings.sort()
    doc = np.array([p[0] for p in postings], dtype=np.int64)
    tf = np.array([p[1] for p in postings], dtype=np.int64)
    nr = np.array([p[2] for p in postings], dtype=np.float64)
    # each posting's positions: tf ascending values, offset by its doc id
    pos = np.concatenate([np.arange(t) * 3 + d % 5 for d, t in zip(doc, tf)])
    blocks = encode_postings(doc, tf, nr, block=7, positions_flat=pos)  # tiny block => many blocks
    got_doc, got_nr, got_pos = _decode_term(blocks, positions=True)
    exp_doc, exp_nr, exp_pos = [], [], []
    for b in blocks:
        d, t, n = decode_block(b)
        exp_doc.append(d)
        exp_nr.append(n)
        flat = decode_positions(b["pos_bytes"], t)
        bounds = np.concatenate([[0], np.cumsum(t)])
        exp_pos += [flat[bounds[i] : bounds[i + 1]] for i in range(len(d))]
    assert np.array_equal(got_doc, np.concatenate(exp_doc))
    assert np.array_equal(got_nr, np.concatenate(exp_nr))
    flat, offsets = got_pos
    assert len(offsets) == len(exp_pos) + 1
    for i, p in enumerate(exp_pos):
        assert np.array_equal(flat[offsets[i] : offsets[i + 1]], p)
    # without positions, doc ids and norms are unchanged and nothing else decodes
    assert _decode_term(blocks)[2] is None
    assert np.array_equal(_decode_term(blocks)[0], got_doc)


def test_codec_owns_the_block_format():
    """One module knows the posting block layout: inside the package only
    index/codec.py calls the varint and position primitives, the index
    writers take no ``encoder`` switch, and index/build.py runs no pandas
    UDF pass (every encode is Arrow through ``codec.encode_segment``)."""
    import ast
    import inspect
    from pathlib import Path

    import elasticsearch_batch_percolator_spark as pkg
    from elasticsearch_batch_percolator_spark.index.build import append_index, build_index

    primitives = {"varint_encode_lens", "varint_decode", "decode_positions"}
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in primitives and rel != "index/codec.py":
                offenders.append((rel, node.lineno, name))
            if name == "mapInPandas" and rel == "index/build.py":
                offenders.append((rel, node.lineno, name))
    assert offenders == []
    for fn in (build_index, append_index):
        assert "encoder" not in inspect.signature(fn).parameters, fn.__name__

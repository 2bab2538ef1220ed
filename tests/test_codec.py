"""Posting-row codec round-trip (SURVEY.md §5 test plan item 1)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from elasticsearch_batch_percolator_spark.index.codec import (
    decode_positions,
    decode_postings,
    decode_stream,
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
    row = encode_postings(doc_ids, tfs, norms)

    order = np.argsort(doc_ids)
    d, t, nr = decode_postings(row)
    assert row["df"] == len(d) == len(t) == len(nr) == len(postings)
    assert row["cf"] == int(tfs.sum())
    assert row["pos_bytes"] is None
    assert (np.diff(d) > 0).all()
    assert d.tolist() == doc_ids[order].tolist()
    assert t.tolist() == tfs[order].tolist()
    assert nr.tobytes() == norms[order].tobytes()


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 10**12), st.integers(1, 1000), st.floats(0.01, 3.0)),
            min_size=1,
            max_size=200,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=5,
    )
)
def test_decode_term_batched_equals_per_block(rows):
    """Decode of concatenated rows equals the per-row reference:
    ``decode_stream`` over several posting rows' payloads back to back
    (what compaction decodes) must reproduce ``decode_postings`` +
    ``decode_positions`` row by row exactly, and ``dsl_index._decode_term``
    must do the same for one row."""
    from elasticsearch_batch_percolator_spark.operators.dsl_index import _decode_term

    encoded, exp_doc, exp_tf, exp_pos = [], [], [], []
    for postings in rows:
        postings = sorted(postings)
        doc = np.array([p[0] for p in postings], dtype=np.int64)
        tf = np.array([p[1] for p in postings], dtype=np.int64)
        nr = np.array([p[2] for p in postings], dtype=np.float64)
        # each posting's positions: tf ascending values, offset by its doc id
        pos = np.concatenate([np.arange(t) * 3 + d % 5 for d, t in zip(doc, tf)])
        row = encode_postings(doc, tf, nr, positions_flat=pos)
        d, t, n = decode_postings(row)
        flat = decode_positions(row["pos_bytes"], t)
        assert d.tolist() == doc.tolist() and t.tolist() == tf.tolist()
        assert n.tobytes() == nr.tobytes() and flat.tolist() == pos.tolist()
        one_doc, one_nr, (one_flat, one_off) = _decode_term(row, positions=True)
        assert one_doc.tolist() == doc.tolist() and one_nr.tobytes() == nr.tobytes()
        assert one_flat.tolist() == pos.tolist()
        assert one_off.tolist() == [0, *np.cumsum(tf).tolist()]
        # without positions, doc ids and norms are unchanged and nothing else decodes
        assert _decode_term(row)[2] is None
        assert _decode_term(row)[0].tolist() == doc.tolist()
        encoded.append(row)
        exp_doc.append(d)
        exp_tf.append(t)
        exp_pos.append(flat)
    ids, tfs, flat = decode_stream(
        b"".join(r["doc_bytes"] for r in encoded),
        [r["df"] for r in encoded],
        b"".join(r["tf_bytes"] for r in encoded),
        b"".join(r["pos_bytes"] for r in encoded),
    )
    assert ids.tolist() == np.concatenate(exp_doc).tolist()
    assert tfs.tolist() == np.concatenate(exp_tf).tolist()
    assert flat.tolist() == np.concatenate(exp_pos).tolist()


def test_codec_owns_the_block_format():
    """One module knows the posting layout: inside the package only
    index/codec.py calls the varint and position primitives, the index
    writers take no ``encoder`` switch or ``block`` size, the manifest
    records no block size, and index/build.py runs no pandas UDF pass
    (every encode is Arrow through ``codec.encode_segment``)."""
    import ast
    import inspect
    from pathlib import Path

    import elasticsearch_batch_percolator_spark as pkg
    from elasticsearch_batch_percolator_spark.index.build import (
        IndexManifest,
        append_index,
        build_index,
    )

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
        assert "block" not in inspect.signature(fn).parameters, fn.__name__
    assert "block" not in IndexManifest.__dataclass_fields__

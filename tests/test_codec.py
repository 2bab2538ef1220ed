"""Posting-row codec round-trip (SURVEY.md §5 test plan item 1)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from elasticsearch_batch_percolator_spark.index.codec import (
    decode_docs,
    decode_postings,
    encode_postings,
)


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
    assert row["positions"] is None
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
    ``decode_docs`` over several posting rows' ``docs`` back to back (what
    compaction decodes) must reproduce ``decode_postings`` row by row
    exactly, and ``dsl_index._decode_term`` must do the same for one row."""
    from elasticsearch_batch_percolator_spark.operators.dsl_index import _decode_term

    encoded, exp_doc = [], []
    for postings in rows:
        postings = sorted(postings)
        doc = np.array([p[0] for p in postings], dtype=np.int64)
        tf = np.array([p[1] for p in postings], dtype=np.int64)
        nr = np.array([p[2] for p in postings], dtype=np.float64)
        # each posting's positions: tf ascending values, offset by its doc id
        pos = np.concatenate([np.arange(t) * 3 + d % 5 for d, t in zip(doc, tf)])
        row = encode_postings(doc, tf, nr, positions_flat=pos)
        d, t, n = decode_postings(row)
        assert d.tolist() == doc.tolist() and t.tolist() == tf.tolist()
        assert n.tobytes() == nr.tobytes() and row["positions"].tolist() == pos.tolist()
        one_doc, one_nr, (one_flat, one_off) = _decode_term(row, positions=True)
        assert one_doc.tolist() == doc.tolist() and one_nr.tobytes() == nr.tobytes()
        assert one_flat.tolist() == pos.tolist()
        assert one_off.tolist() == [0, *np.cumsum(tf).tolist()]
        # without positions, doc ids and norms are unchanged and nothing else decodes
        assert _decode_term(row)[2] is None
        assert _decode_term(row)[0].tolist() == doc.tolist()
        encoded.append(row)
        exp_doc.append(d)
    ids = decode_docs(
        np.concatenate([r["docs"] for r in encoded]), [r["df"] for r in encoded]
    )
    assert ids.tolist() == np.concatenate(exp_doc).tolist()


def test_segment_past_int32_list_offsets_is_refused():
    """List offsets are int32: a segment whose postings (or positions) run
    past 2^31 values raises, naming the fix, instead of wrapping."""
    from elasticsearch_batch_percolator_spark.index.codec import _lists

    with pytest.raises(ValueError, match="larger n_segments"):
        _lists("positions", np.empty(0, np.int32), np.array([0, 2**31], np.int64))


def test_codec_owns_the_block_format():
    """One module knows the posting layout: inside the package only
    index/codec.py assembles posting lists (``ListArray``), every other read
    of the ``docs`` column goes straight into ``codec.decode_docs`` (the
    doc-delta rule lives in the codec), the index writers take no
    ``encoder`` switch or ``block`` size, the manifest records no block
    size, and index/build.py runs no pandas UDF pass (every encode is Arrow
    through ``codec.encode_segment``)."""
    import ast
    import inspect
    from pathlib import Path

    import elasticsearch_batch_percolator_spark as pkg
    from elasticsearch_batch_percolator_spark.index.build import (
        IndexManifest,
        append_index,
        build_index,
    )

    def name(f):
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "index/codec.py":
            continue
        tree = ast.parse(path.read_text())
        decoded = {
            id(n)
            for c in ast.walk(tree)
            if isinstance(c, ast.Call) and name(c.func) == "decode_docs"
            for a in c.args
            for n in ast.walk(a)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and name(node.value) == "ListArray":
                offenders.append((rel, node.lineno, "ListArray"))
            if (
                isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.Constant)
                and node.slice.value == "docs"
                and id(node) not in decoded
            ):
                offenders.append((rel, node.lineno, "docs"))
            if (
                isinstance(node, ast.Call)
                and name(node.func) == "mapInPandas"
                and rel == "index/build.py"
            ):
                offenders.append((rel, node.lineno, "mapInPandas"))
    assert offenders == []
    for fn in (build_index, append_index):
        assert "encoder" not in inspect.signature(fn).parameters, fn.__name__
        assert "block" not in inspect.signature(fn).parameters, fn.__name__
    assert "block" not in IndexManifest.__dataclass_fields__

"""Arrow whole-segment encoder == per-term reference codec, bit-for-bit.

``build_index`` encodes each segment in one Arrow pass (Arrow
dictionary-encode, one int lexsort, and ``codec.encode_segment``'s
whole-segment list arrays cut by term offsets). Its parquet output must
equal, on every field including the posting lists (norms bit for bit) and
with and without positions, ``codec.encode_postings`` run term by term on
the same documents — the two differ only in how, never in what.
"""

import os

import numpy as np
import pytest
from pyspark.sql import types as T

from elasticsearch_batch_percolator_spark.index.build import build_index, read_manifest
from elasticsearch_batch_percolator_spark.index.codec import POSTING_TYPES, encode_postings


def _random_docs(spark, seed, n_docs, with_empty=True, sparse_ids=False, hot=False):
    rng = np.random.default_rng(seed)
    vocab = np.array(
        ["tok%03d" % i for i in range(80)]
        + ["Zz", "aA", "éacute", "0num", "_und"]
        # multi-byte + supplementary-plane: the encoder sorts by UTF-8
        # bytes, python str by code points — identical orders only
        # because UTF-8 is order-preserving; the sorted-output test pins it
        + ["ÿ", "Ā", "￿", "\U00010000", "\U0001f600", "日本語"],
        dtype=object,
    )
    rows = []
    for i in range(n_docs):
        doc_id = i * 977 + 13 if sparse_ids else i
        n = int(rng.integers(0, 40))
        if with_empty and i % 17 == 0:
            n = 0
        toks = [str(v) for v in vocab[rng.integers(0, len(vocab), n)]]
        if hot and n:
            toks.append("the")  # a term in every non-empty doc
        rows.append((doc_id, toks))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _row_tuple(r):
    """A posting row's fields as comparable values: df, cf, then each list
    as its bytes in the column's element type (None when null)."""
    return (int(r["df"]), int(r["cf"])) + tuple(
        None if r[c] is None else np.asarray(r[c], t.to_pandas_dtype()).tobytes()
        for c, t in POSTING_TYPES.items()
    )


def _collect_index(spark, out_dir):
    rows = spark.read.parquet(os.path.join(out_dir, "postings")).collect()
    return {(int(r["segment_id"]), r["term"]): _row_tuple(r) for r in rows}


def _reference_index(rows, m):
    """Per-term ``encode_postings`` over the same docs: each doc's segment
    from the manifest's cut points, its tf/positions per term, and the
    BM25 norm against the frozen avgdl — the expected ``_collect_index``."""
    postings, dls = {}, {d: len(toks) for d, toks in rows}
    for doc_id, toks in rows:
        if m.boundaries:
            seg = sum(doc_id > bd for bd in m.boundaries)
        else:
            seg = min(doc_id // m.seg_size, m.n_segments - 1)
        for p, t in enumerate(toks):
            postings.setdefault((seg, t), {}).setdefault(doc_id, []).append(p)
    out = {}
    for key, by_doc in postings.items():
        doc = np.array(sorted(by_doc), dtype=np.int64)
        tf = np.array([len(by_doc[d]) for d in doc], dtype=np.int64)
        dl = np.array([dls[d] for d in doc], dtype=np.int64)
        norm = (tf * (m.k1 + 1.0)) / (tf + m.k1 * (1.0 - m.b + m.b * dl / m.avgdl))
        pos = np.concatenate([by_doc[d] for d in doc]) if m.positions else None
        out[key] = _row_tuple(encode_postings(doc, tf, norm, positions_flat=pos))
    return out


@pytest.mark.parametrize("positions", [False, True])
@pytest.mark.parametrize("sparse_ids", [False, True])
def test_arrow_encoder_bit_identical(spark, tmp_path, positions, sparse_ids):
    docs = _random_docs(spark, seed=7 + positions + 2 * sparse_ids, n_docs=400,
                        sparse_ids=sparse_ids, hot=True)
    rows = [(r["doc_id"], list(r["tokens"])) for r in docs.collect()]
    out = str(tmp_path / "ix")
    m = build_index(spark, docs, out, n_segments=2, positions=positions)
    assert bool(m.boundaries) == sparse_ids
    got, want = _collect_index(spark, out), _reference_index(rows, m)
    assert set(got) == set(want)
    # a term with more postings per segment than Lucene's 128-posting block
    assert max(v[0] for v in want.values()) > 128
    for k in want:
        assert got[k] == want[k], k


def test_arrow_encoder_output_sorted_by_term(spark, tmp_path):
    """Parquet row-group pruning relies on term-sorted files."""
    docs = _random_docs(spark, seed=3, n_docs=200)
    out = str(tmp_path / "ix")
    build_index(spark, docs, out, n_segments=3)
    pdf = spark.read.parquet(os.path.join(out, "postings")).toPandas()
    for _, g in pdf.groupby("segment_id"):
        terms = list(g["term"])
        assert terms == sorted(terms)


def test_null_token_element_raises(spark, tmp_path):
    """The encoder must fail loudly on null token elements — not rank a
    null as a garbage term code."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType(), True)),
        ]
    )
    docs = spark.createDataFrame([(0, ["a", None, "b"]), (1, ["b"])], schema)
    with pytest.raises(Exception, match="null token"):
        build_index(spark, docs, str(tmp_path / "ix"), n_segments=1)

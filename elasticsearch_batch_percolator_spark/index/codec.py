"""Posting-list codec: one row per (segment, term), its lists as Parquet
integer and float list columns.

The reference leaves storage to Lucene segments (RAMDirectory,
RamDirectoryPercolatorIndex.java:50-66); this engine persists its own
segment layout: each term's whole posting list in one row, as native
columnar arrays (the columnar inverted index shape of ICDE 2025) that
Spark's default Parquet writer encodes — dictionary and bit-packed
integer encodings do what a hand-rolled varint stream did. This module is
the one place that knows that layout: build, append and compaction encode
whole segments through ``encode_segment`` (one Arrow list array per column,
sliced by term offsets) and every reader turns doc deltas back into ids
through ``decode_docs``; ``encode_postings`` / ``decode_postings`` are the
per-term reference they are tested against.

Posting row payload (``POSTING_COLUMNS``, each a list holding the term's
whole posting list in one segment; the row also carries df and cf):
- docs     : int64 doc-id deltas — the first delta is absolute. Deltas keep
             the Parquet dictionary small in large segments, where absolute
             ids would fall back to PLAIN encoding.
- tfs      : int32 within-doc term frequencies
- norms    : float64 BM25 tf-norm  tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl))
             (precomputed at build — avgdl is fixed per index build — so
             scoring a posting is score = idf * norm, no dl lookup)
- positions: int32 within-doc positions, each posting's tf of them back to
             back (split with cumsum(tfs)); null in a non-positional index

``LAYOUT`` names this layout in the index manifest, so a reader refuses an
index written in any other one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

#: the posting layout this module reads and writes, as the manifest records it
LAYOUT = "term-lists-1"
#: a posting row's payload columns → their list element types, in schema order
POSTING_TYPES = {
    "docs": pa.int64(),
    "tfs": pa.int32(),
    "norms": pa.float64(),
    "positions": pa.int32(),
}
POSTING_COLUMNS = tuple(POSTING_TYPES)


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    positions_flat: np.ndarray | None = None,
) -> dict:
    """One term's postings in one segment → its posting row (df, cf and
    ``POSTING_COLUMNS`` as numpy arrays) — the per-term reference
    ``encode_segment`` is tested against.

    ``positions_flat``: optional concatenated per-posting positions aligned
    with doc_ids order (caller must pre-sort when providing positions).
    """
    order = np.argsort(doc_ids, kind="stable")
    if positions_flat is not None and not np.array_equal(order, np.arange(len(doc_ids))):
        raise ValueError("positions require pre-sorted postings")
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[order]
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    return {
        "df": len(doc_ids),
        "cf": int(tfs.sum()),
        "docs": np.diff(doc_ids, prepend=0),  # first is absolute
        "tfs": tfs.astype(np.int32),
        "norms": np.asarray(norms, dtype=np.float64)[order],
        "positions": None
        if positions_flat is None
        else np.asarray(positions_flat, dtype=np.int32),
    }


def decode_postings(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Posting row (dict, Row or pandas record) → (doc_ids int64, tfs int64,
    norms float64)."""
    return (
        decode_docs(row["docs"], [row["df"]]),
        np.asarray(row["tfs"], dtype=np.int64),
        np.asarray(row["norms"], dtype=np.float64),
    )


def decode_docs(deltas, dfs) -> np.ndarray:
    """Posting rows' ``docs`` values back to back (``dfs``: each row's df)
    → their doc ids.

    A row's first delta is absolute, so one cumsum over all rows plus a
    per-row prefix subtraction decodes any number of rows at once."""
    ids = np.cumsum(np.asarray(deltas, dtype=np.int64))
    dfs = np.asarray(dfs, dtype=np.int64)
    if len(dfs) > 1:
        starts = np.cumsum(dfs)[:-1]
        # undo the cross-row prefix: each row's first value was absolute
        ids -= np.repeat(np.concatenate([[0], ids[starts - 1]]), dfs)
    return ids


def _lists(name: str, values: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """``values`` cut at ``offsets`` → one list per term (terms tile the
    posting space, so term k ends exactly where term k+1 starts), in the
    column's element type (a value that does not fit raises)."""
    if len(offsets) and int(offsets[-1]) > np.iinfo(np.int32).max:
        raise ValueError(
            f"a segment's {name} exceed 2^31 values (list offsets are int32) — "
            "rebuild with a larger n_segments so each segment's postings fit"
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)),
        pa.array(values, POSTING_TYPES[name]),
    )


def encode_segment(
    term_rank: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    norm: np.ndarray,
    positions: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[pa.Array]]:
    """One segment's postings, sorted by (term, doc) → its posting rows.

    ``term_rank`` is any integer term key, ``positions`` each posting's
    ascending positions back to back (None for a non-positional index).
    Returns ``(term starts, df, cf, payload)``: each term's first posting
    index, df, cf and the ``POSTING_COLUMNS`` arrays — equal to
    ``encode_postings`` term by term, but each column is ONE list array
    over the segment, cut into terms by offsets."""
    P = len(doc)
    t_change = np.flatnonzero(term_rank[1:] != term_rank[:-1])
    t_starts = np.concatenate([[0], t_change + 1]).astype(np.int64)
    bounds = np.concatenate([t_starts, [P]])
    # doc deltas: in-term diffs, absolute at each term start
    deltas = doc.astype(np.int64)
    deltas[1:] -= doc[:-1]
    deltas[t_starts] = doc[t_starts]
    if positions is not None:
        pb = np.concatenate([[0], np.cumsum(tf)]).astype(np.int64)
        pos = _lists("positions", positions, pb[bounds])
    else:
        pos = pa.nulls(len(t_starts), pa.list_(POSTING_TYPES["positions"]))
    payload = [
        _lists("docs", deltas, bounds),
        _lists("tfs", tf, bounds),
        _lists("norms", norm, bounds),
        pos,
    ]
    cf = np.add.reduceat(tf, t_starts).astype(np.int64)
    return t_starts, np.diff(bounds), cf, payload

"""Inverted-index materialization: document-partitioned compressed segments.

Layout (the Spark-native answer to Lucene segments-per-shard; the reference
hash-routes queries across ES shards and broadcasts percolate requests,
TransportBatchPercolateAction.java:156-159 — document partitioning is the
same design):

    out_dir/postings/segment_id=K/*.parquet
        (term, df, cf, blocks array<struct<max_doc, max_norm, n,
         doc_bytes, tf_bytes, norm_bytes>>)   sorted by term within files
    out_dir/term_stats/*.parquet              (term, df, cf) global
    out_dir/manifest.json                     stats + lineage + per-segment
                                              metrics + completed set

Scale properties:
- segment_id = doc_id // seg_size → contiguous doc ranges per segment →
  small deltas, dense blocks, and NO global groupBy(term): the widest row a
  hot term ("def", "the") can produce is bounded by the segment size, which
  is the explicit skew handling the north_rule asks for (a term-partitioned
  layout would put 10^10 postings of "the" in one row/task at 10^12-file
  scale; a document-partitioned one never exceeds seg_size).
- the shuffle is ONE repartition of DOC rows by segment (~corpus bytes on
  the wire — token-level rows would triple that); each task then builds its
  whole segments locally: numpy tf-count + (term, doc) lexsort + run
  grouping + block encode in a single Arrow pass. Parquet min/max row-group
  stats on the term-sorted output give term-lookup pruning at read time.
- parallelism = n_segments (tasks >> cores is the sizing rule: pick
  n_segments ≈ 4×cores or corpus_bytes / ~1 GiB, whichever is larger).
- resume: Spark dynamic partition overwrite rewrites only the segments
  being (re)built; completed segments are recorded in the manifest and
  skipped (north_rule checkpoint/resume; the reference's recovery analog is
  the registry reload, BatchPercolatorQueriesRegistry.java:244-266).
- norms are precomputed at build (avgdl frozen in the manifest), so query
  scoring never touches doc lengths.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import BM25_B, BM25_K1
from .codec import BLOCK, encode_postings, varint_encode_lens

BLOCKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("max_doc", T.LongType()),
            T.StructField("max_norm", T.DoubleType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("doc_bytes", T.BinaryType()),
            T.StructField("tf_bytes", T.BinaryType()),
            T.StructField("norm_bytes", T.BinaryType()),
            T.StructField("pos_bytes", T.BinaryType()),
        ]
    )
)


@dataclass
class IndexManifest:
    n_docs: int
    avgdl: float
    n_segments: int
    seg_size: int
    block: int = BLOCK
    k1: float = BM25_K1
    b: float = BM25_B
    tokenizer: str = "ws"
    # frozen at first build: a resume or append MUST match (mixed
    # positional / non-positional segments would break index-side phrases)
    positions: bool = False
    input_lineage: str = ""
    completed: dict = field(default_factory=dict)  # seg_id(str) -> metrics
    # sparse-id segmentation: doc_id cut points (len n_segments-1) frozen at
    # first build so resume assigns identically; empty = dense arithmetic
    # ranges via seg_size
    boundaries: list = field(default_factory=list)
    # per-stage wall clocks for the LAST build/resume invocation
    # (north_rule: tokenization/merge/scoring metrics emitted per stage):
    # corpus_stats_s (count/avgdl/quantile scan), encode_merge_s (the one
    # sort-merge shuffle + per-segment tokenize-count-sort-encode Arrow
    # pass + parquet write), segment_metrics_s (written-postings agg),
    # term_stats_s (global df/cf merge scan), plus docs_per_sec for the
    # encode stage. Stages not run in a resume keep 0.0.
    stage_metrics: dict = field(default_factory=dict)

    def save(self, out_dir: str) -> None:
        tmp = os.path.join(out_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=1)
        os.replace(tmp, os.path.join(out_dir, "manifest.json"))


def read_manifest(out_dir: str) -> IndexManifest | None:
    p = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return IndexManifest(**json.load(f))


def _write_segments(
    spark: SparkSession,
    staged: DataFrame,
    out_dir: str,
    seg_ids: list[int],
    manifest: IndexManifest,
    *,
    encoder: str,
    stage: dict,
    t_start: float,
    save: bool = True,
) -> None:
    """Encode ``staged`` (segment_id, doc_id, tokens) rows into compressed
    posting segments and record per-segment metrics into the manifest.
    Shared by build_index and append_index; every scoring stat (avgdl, k1,
    b, block, positions) comes from the manifest — FROZEN at first build so
    resumed and appended segments score on the same scale.

    ``save=False`` (the append path) leaves the on-disk manifest untouched:
    the caller saves once, AFTER updating n_segments/n_docs, so a failed
    append leaves a clean pre-append manifest and a re-run deterministically
    overwrites the same segment ids."""
    avgdl, k1, b = manifest.avgdl, manifest.k1, manifest.b
    block, positions = manifest.block, bool(manifest.positions)
    out_schema = T.StructType(
        [
            T.StructField("segment_id", T.IntegerType()),
            T.StructField("term", T.StringType()),
            T.StructField("df", T.LongType()),
            T.StructField("cf", T.LongType()),
            T.StructField("blocks", BLOCKS_TYPE),
        ]
    )

    def encode_segments(batches):
        # accumulate the partition's doc rows per segment (a partition
        # holds only whole segments — same key, same partition)
        per_seg: dict[int, list] = {}
        for pdf in batches:
            for s, grp in pdf.groupby("segment_id"):
                per_seg.setdefault(int(s), []).append(
                    (grp["doc_id"].to_numpy(), grp["tokens"])
                )
        for s in sorted(per_seg):
            doc_arrs, tok_lists = [], []
            for doc_ids, toks in per_seg[s]:
                doc_arrs.append(doc_ids)
                tok_lists.extend(np.asarray(t) for t in toks)
            doc_ids = np.concatenate(doc_arrs)
            counts = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            keep = counts > 0
            if not keep.any():
                continue
            # flat occurrence arrays: token, its doc, its in-doc position
            flat_tok = np.concatenate([t for t, k in zip(tok_lists, keep) if k])
            flat_doc = np.repeat(doc_ids[keep], counts[keep])
            flat_dl = np.repeat(counts[keep], counts[keep])
            if positions:
                flat_pos = np.concatenate(
                    [np.arange(c, dtype=np.int64) for c in counts[keep]]
                )
            # ONE stable lexsort by (term, doc): runs of equal (term,
            # doc) are the postings' tf groups; positions stay ascending
            # within each run (stability + ascending original order)
            order = np.lexsort((flat_doc, flat_tok))
            flat_tok = flat_tok[order]
            flat_doc = flat_doc[order]
            flat_dl = flat_dl[order]
            if positions:
                flat_pos = flat_pos[order]
            pair_change = np.flatnonzero(
                (flat_tok[1:] != flat_tok[:-1]) | (flat_doc[1:] != flat_doc[:-1])
            )
            p_starts = np.concatenate([[0], pair_change + 1])
            p_ends = np.concatenate([pair_change + 1, [len(flat_tok)]])
            term = flat_tok[p_starts]
            doc = flat_doc[p_starts]
            tf = (p_ends - p_starts).astype(np.int64)
            dlv = flat_dl[p_starts]
            norm = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dlv / avgdl))
            # term runs over the (term, doc) rows
            t_change = np.flatnonzero(term[1:] != term[:-1])
            t_starts = np.concatenate([[0], t_change + 1])
            t_ends = np.concatenate([t_change + 1, [len(term)]])
            terms_out, dfs_out, cfs_out, blocks_out = [], [], [], []
            for ts, te in zip(t_starts, t_ends):
                gpos = None
                if positions:
                    gpos = flat_pos[p_starts[ts] : p_ends[te - 1]]
                terms_out.append(term[ts])
                dfs_out.append(int(te - ts))
                cfs_out.append(int(tf[ts:te].sum()))
                blocks_out.append(
                    encode_postings(
                        doc[ts:te], tf[ts:te], norm[ts:te],
                        block=block, positions_flat=gpos,
                    )
                )
            yield pd.DataFrame(
                {
                    "segment_id": np.full(len(terms_out), s, dtype=np.int32),
                    "term": terms_out,
                    "df": dfs_out,
                    "cf": cfs_out,
                    "blocks": blocks_out,
                }
            )

    _BLOCK_PA = pa.struct(
        [
            ("max_doc", pa.int64()),
            ("max_norm", pa.float64()),
            ("n", pa.int32()),
            ("doc_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("norm_bytes", pa.binary()),
            ("pos_bytes", pa.binary()),
        ]
    )

    def _bin_array(buf: np.ndarray, offsets: np.ndarray) -> pa.Array:
        # contiguous per-block byte ranges → zero-copy BinaryArray from
        # the single encoded stream (blocks tile the posting space, so
        # block k ends exactly where block k+1 starts)
        if len(offsets) and int(offsets[-1]) > np.iinfo(np.int32).max:
            raise ValueError(
                "segment payload exceeds 2 GiB (binary offsets are "
                "int32) — rebuild with a larger n_segments so each "
                "segment's postings fit"
            )
        offs = offsets.astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(),
            len(offs) - 1,
            [None, pa.py_buffer(offs), pa.py_buffer(buf)],
        )

    def _encode_one_segment_arrow(s, parts):
        # parts: list of (doc_ids int64[], flat pa.StringArray, counts int64[])
        doc_ids = np.concatenate([d for d, _, _ in parts])
        counts = np.concatenate([c for _, _, c in parts])
        if not (counts > 0).any():
            return None
        flat_ch = pa.chunked_array([f for _, f, _ in parts])
        if flat_ch.null_count:
            # the pandas path fails loudly on null token elements
            # (object lexsort TypeError); match that instead of letting
            # NaN indices cast to garbage int codes
            raise ValueError(
                "null token elements are not indexable — drop or "
                "replace nulls in the tokens array before build_index"
            )
        enc = pc.dictionary_encode(flat_ch)
        chunks = enc.chunks if isinstance(enc, pa.ChunkedArray) else [enc]
        if len(chunks) > 1 and not all(
            c.dictionary.equals(chunks[0].dictionary) for c in chunks[1:]
        ):
            # kernel didn't unify dictionaries across chunks — force it
            chunks = [pc.dictionary_encode(flat_ch.combine_chunks())]
        dictionary = chunks[0].dictionary
        codes = np.concatenate(
            [c.indices.to_numpy(zero_copy_only=False) for c in chunks]
        ).astype(np.int64)
        # remap first-appearance codes to lexicographic ranks (UTF-8 byte
        # order == code-point order, matching python str comparison)
        si = pc.sort_indices(dictionary).to_numpy(zero_copy_only=False).astype(np.int64)
        rank = np.empty(len(si), dtype=np.int64)
        rank[si] = np.arange(len(si))
        sorted_dict = pc.take(dictionary, pa.array(si))
        rcodes = rank[codes]
        flat_doc = np.repeat(doc_ids, counts)
        flat_dl = np.repeat(counts, counts)
        if positions:
            tot = int(counts.sum())
            run_off = np.repeat(np.cumsum(counts) - counts, counts)
            flat_pos = np.arange(tot, dtype=np.int64) - run_off
        # ONE stable int lexsort by (term rank, doc) — same order as the
        # object-string lexsort, minus the per-element python compares
        order = np.lexsort((flat_doc, rcodes))
        rc = rcodes[order]
        fd = flat_doc[order]
        dl = flat_dl[order]
        if positions:
            fp = flat_pos[order]
        pair_change = np.flatnonzero((rc[1:] != rc[:-1]) | (fd[1:] != fd[:-1]))
        p_starts = np.concatenate([[0], pair_change + 1])
        p_ends = np.concatenate([pair_change + 1, [len(rc)]])
        pterm = rc[p_starts]
        pdoc = fd[p_starts]
        ptf = (p_ends - p_starts).astype(np.int64)
        pdl = dl[p_starts]
        norm = (ptf * (k1 + 1.0)) / (ptf + k1 * (1.0 - b + b * pdl / avgdl))
        P = len(pterm)
        t_change = np.flatnonzero(pterm[1:] != pterm[:-1])
        t_starts = np.concatenate([[0], t_change + 1])
        t_ends = np.concatenate([t_change + 1, [P]])
        run_len = (t_ends - t_starts).astype(np.int64)
        # block boundaries: every `block`-th posting within a term run
        idx_in_term = np.arange(P, dtype=np.int64) - np.repeat(t_starts, run_len)
        b_starts = np.flatnonzero(idx_in_term % block == 0)
        b_ends = np.concatenate([b_starts[1:], [P]])
        bounds = np.concatenate([b_starts, [P]])
        n_blk = (b_ends - b_starts).astype(np.int32)
        blk_maxdoc = pdoc[b_ends - 1].astype(np.int64)
        blk_maxnorm = np.maximum.reduceat(norm, b_starts)
        # doc deltas: in-block diffs, absolute at each block start
        deltas = pdoc.copy()
        deltas[1:] -= pdoc[:-1]
        deltas[b_starts] = pdoc[b_starts]
        doc_buf, doc_nb = varint_encode_lens(deltas.astype(np.uint64))
        tf_buf, tf_nb = varint_encode_lens(ptf.astype(np.uint64))
        cum_doc = np.concatenate([[0], np.cumsum(doc_nb)])
        cum_tf = np.concatenate([[0], np.cumsum(tf_nb)])
        doc_bytes = _bin_array(doc_buf, cum_doc[bounds])
        tf_bytes = _bin_array(tf_buf, cum_tf[bounds])
        norm_bytes = _bin_array(norm.view(np.uint8), bounds * 8)
        if positions:
            # delta-encode ALL positions once; deltas reset (absolute) at
            # every posting start — block slices are byte-identical to
            # per-block encode_positions because blocks align to postings
            pb = np.concatenate([[0], np.cumsum(ptf)]).astype(np.int64)
            pdeltas = fp.copy()
            pdeltas[1:] -= fp[:-1]
            pdeltas[pb[:-1]] = fp[pb[:-1]]
            pos_buf, pos_nb = varint_encode_lens(pdeltas.astype(np.uint64))
            cum_pos = np.concatenate([[0], np.cumsum(pos_nb)])
            pos_bytes = _bin_array(pos_buf, cum_pos[pb[bounds]])
        else:
            pos_bytes = pa.nulls(len(b_starts), pa.binary())
        struct = pa.StructArray.from_arrays(
            [
                pa.array(blk_maxdoc, pa.int64()),
                pa.array(blk_maxnorm, pa.float64()),
                pa.array(n_blk, pa.int32()),
                doc_bytes,
                tf_bytes,
                norm_bytes,
                pos_bytes,
            ],
            fields=list(_BLOCK_PA),
        )
        nbpt = (run_len + block - 1) // block
        list_offsets = np.concatenate([[0], np.cumsum(nbpt)]).astype(np.int32)
        blocks_arr = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)
        term_arr = pc.take(sorted_dict, pa.array(pterm[t_starts]))
        cf = np.add.reduceat(ptf, t_starts).astype(np.int64)
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(len(t_starts), s, dtype=np.int32)),
                term_arr.combine_chunks() if isinstance(term_arr, pa.ChunkedArray) else term_arr,
                pa.array(run_len, pa.int64()),
                pa.array(cf, pa.int64()),
                blocks_arr,
            ],
            names=["segment_id", "term", "df", "cf", "blocks"],
        )

    def encode_segments_arrow(batches):
        # same accumulate-then-encode shape as encode_segments, but the
        # token strings never materialize as python objects: Arrow
        # list_flatten + dictionary_encode (C++), int lexsort, and a
        # single whole-segment varint pass sliced into blocks by offset
        # arithmetic (encode_postings per term is ~30k tiny-array calls
        # per segment; this is three big ones)
        per_seg: dict[int, list] = {}
        for rb in batches:
            seg = rb.column(0).to_numpy(zero_copy_only=False)
            docs = rb.column(1).to_numpy(zero_copy_only=False)
            toks = rb.column(2)
            for s in np.unique(seg):
                mask = seg == s
                if mask.all():
                    sub_t, sub_d = toks, docs
                else:
                    sub_t = toks.take(pa.array(np.flatnonzero(mask)))
                    sub_d = docs[mask]
                flat = pc.list_flatten(sub_t)
                cnts = (
                    pc.fill_null(pc.list_value_length(sub_t), 0)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                per_seg.setdefault(int(s), []).append((sub_d, flat, cnts))
        for s in sorted(per_seg):
            rb = _encode_one_segment_arrow(s, per_seg[s])
            if rb is not None:
                yield rb

    t_enc = time.perf_counter()
    if encoder == "pandas":
        result = staged.mapInPandas(encode_segments, out_schema)
    else:
        result = staged.mapInArrow(encode_segments_arrow, out_schema)
    # set the overwrite mode on the session that EXECUTES the write:
    # inside Structured Streaming foreachBatch the batch DataFrame is
    # bound to a CLONED session whose SQLConf was snapshotted at stream
    # start — setting it on the caller's session would leave the clone
    # on STATIC overwrite, and a streaming append would silently wipe
    # every existing segment partition. Restore the prior value after:
    # leaving dynamic mode on would change the semantics of the USER'S
    # own partitioned overwrite writes in the same session.
    sess = result.sparkSession
    _MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
    prior_mode = sess.conf.get(_MODE_KEY, None)
    sess.conf.set(_MODE_KEY, "dynamic")
    try:
        result.write.partitionBy("segment_id").mode("overwrite").parquet(
            os.path.join(out_dir, "postings")
        )
    finally:
        if prior_mode is None:
            sess.conf.unset(_MODE_KEY)
        else:
            sess.conf.set(_MODE_KEY, prior_mode)
    stage["encode_merge_s"] = round(time.perf_counter() - t_enc, 3)
    if stage["encode_merge_s"] > 0:
        stage["docs_per_sec"] = round(
            manifest.n_docs / stage["encode_merge_s"], 1
        )

    # per-segment metrics (rows/terms/postings) from the written files
    t_met = time.perf_counter()
    postings_dir = os.path.join(out_dir, "postings")
    if not any(
        n.startswith("segment_id=") for n in os.listdir(postings_dir)
    ):
        # every doc in the corpus had zero tokens: nothing was written,
        # and a schema-less parquet dir would fail every later read with
        # an opaque inference error — fail HERE with the actual cause
        raise ValueError(
            "no postings were written — every document's tokens array "
            "is empty; nothing to index"
        )
    written = spark.read.parquet(postings_dir).filter(
        F.col("segment_id").isin(seg_ids)
    )
    metrics = {
        str(r["segment_id"]): {
            "terms": int(r["terms"]),
            "postings": int(r["postings"]),
            "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        for r in written.groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("terms"), F.sum("df").alias("postings"))
        .collect()
    }
    stage["segment_metrics_s"] = round(time.perf_counter() - t_met, 3)
    elapsed = time.perf_counter() - t_start
    for s in seg_ids:
        m = metrics.get(str(s), {"terms": 0, "postings": 0})
        m["wall_clock_share_s"] = round(elapsed / len(seg_ids), 3)
        manifest.completed[str(s)] = m
    manifest.stage_metrics = stage
    if save:
        manifest.save(out_dir)



def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    block: int = BLOCK,
    resume: bool = True,
    lineage: str = "",
    fail_after_segments: int | None = None,
    positions: bool = False,
    encoder: str = "arrow",
) -> IndexManifest:
    """Build (or resume) the compressed inverted index for ``docs``
    (doc_id long, tokens array<string>).

    ``fail_after_segments`` is a test hook: abort after materializing that
    many segments to exercise the resume path.

    ``positions=True`` stores within-doc token positions per posting
    (delta+varint) — needed only when registered queries include phrases/
    spans that should run index-side (SURVEY.md §7 hard part 2: keep
    positions only where a query needs them; they dominate index size).

    ``encoder``: "arrow" (default; whole-segment vectorized mapInArrow) or
    "pandas" (the per-term reference path; bit-identical output).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir) if resume else None
    t_start = time.perf_counter()
    stage: dict[str, float] = {
        "corpus_stats_s": 0.0,
        "encode_merge_s": 0.0,
        "segment_metrics_s": 0.0,
        "term_stats_s": 0.0,
        "docs_per_sec": 0.0,
    }

    if manifest is None:
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("tokens")).alias("total_dl"),
            F.max("doc_id").alias("max_doc"),
        ).first()
        n_docs = int(row["n"])
        avgdl = float(row["total_dl"]) / n_docs if n_docs else 0.0
        max_doc = int(row["max_doc"] or 0)
        seg_size = max(1, math.ceil((max_doc + 1) / n_segments))
        boundaries: list[int] = []
        # sparse id space (ids span >> row count): arithmetic ranges would
        # leave most segments empty and pile rows into a few — cut on doc_id
        # quantiles instead, frozen into the manifest so a resume assigns
        # every doc to the same segment
        if n_docs and (max_doc + 1) > 4 * n_docs and n_segments > 1:
            qs = [i / n_segments for i in range(1, n_segments)]
            boundaries = [
                int(x)
                for x in docs.stat.approxQuantile("doc_id", qs, 0.001)
            ]
        stage["corpus_stats_s"] = round(time.perf_counter() - t_start, 3)
        manifest = IndexManifest(
            n_docs=n_docs,
            avgdl=avgdl,
            n_segments=n_segments,
            seg_size=seg_size,
            block=block,
            positions=positions,
            input_lineage=lineage,
            boundaries=boundaries,
        )
        manifest.save(out_dir)
    # frozen stats from the manifest — a resume MUST score identically,
    # and MUST keep the original positional choice (a resume called with a
    # different positions flag would silently mix segment layouts)
    avgdl, seg_size, n_segments = manifest.avgdl, manifest.seg_size, manifest.n_segments
    k1, b = manifest.k1, manifest.b
    positions = bool(manifest.positions)
    boundaries = list(manifest.boundaries or [])

    missing = [s for s in range(n_segments) if str(s) not in manifest.completed]
    if fail_after_segments is not None:
        missing = missing[:fail_after_segments]
    if missing:
        if boundaries:
            # segment = number of boundaries <= doc_id (monotone cut points)
            seg_col = sum(
                (F.col("doc_id") > F.lit(int(bd))).cast("int") for bd in boundaries
            ).cast("int")
        else:
            seg_col = F.least(
                (F.col("doc_id") / F.lit(seg_size)).cast("int"),
                F.lit(n_segments - 1),
            )

        # THE one exchange (north_rule sort-merge shuffle): DOC rows move,
        # not token rows. Shipping (doc_id, tokens) costs ~corpus bytes;
        # the old token-level exchange shipped one row per DISTINCT
        # (doc, term) with the term string duplicated per doc (~3x the
        # bytes) plus a JVM external sort behind it. hash(segment_id)
        # routing keeps every segment WHOLE in one partition (collisions
        # only co-locate two segments, never split one), so each task can
        # build its segments' complete posting lists locally in numpy —
        # tf-count, (term, doc) lexsort, run grouping and block encoding
        # all happen in ONE Arrow pass with zero further data movement.
        # Task memory is bounded by seg_size (the explicit 100-TB contract:
        # pick n_segments so a segment's docs fit an executor).
        staged = (
            docs.withColumn("segment_id", seg_col)
            .filter(F.col("segment_id").isin(missing))
            .select("segment_id", "doc_id", "tokens")
            .repartition(n_segments, "segment_id")
        )

        _write_segments(
            spark, staged, out_dir, missing, manifest,
            encoder=encoder, stage=stage, t_start=t_start,
        )

    if len(manifest.completed) == n_segments:
        t_ts = time.perf_counter()
        _finalize_term_stats(spark, out_dir, manifest)
        stage["term_stats_s"] = round(time.perf_counter() - t_ts, 3)
        manifest.stage_metrics = stage
        manifest.save(out_dir)
    return manifest


def append_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_new_segments: int = 8,
    encoder: str = "arrow",
    lineage: str = "",
) -> IndexManifest:
    """Append NEW documents to a COMPLETE index as additional segments.

    This is how 10^12-file corpora actually arrive: incrementally, as
    micro-batches — a full rebuild per batch is a non-starter. Appending
    follows the Lucene segment-add model the reference's shards inherit
    (new segments join the searcher; collection stats drift until a
    rebuild): scoring stats (avgdl, k1, b, block, positions) stay FROZEN
    from the original manifest, because norms bake avgdl at encode time —
    per-append avgdl would make scores incomparable across segments. idf
    DOES see the updated ``n_docs`` at query time, exactly as Lucene's
    collection statistics do when segments are added. ``term_stats`` is
    refreshed over all segments after the write.

    Caller contract: appended ``doc_id``s are NEW (disjoint from every
    existing segment) — a re-used id would score as two documents.

    Appended segments get ids ``n_segments .. n_segments+k-1`` and are
    range-cut on the new batch's own doc_id quantiles (appends need no
    relation to the original id space). The manifest records each append
    (rows, segments, lineage) under ``stage_metrics['appends']``; a failed
    append leaves the manifest untouched and can simply be re-run (segment
    writes are dynamic-partition overwrites of deterministic ids).
    """
    manifest = read_manifest(out_dir)
    if manifest is None:
        raise ValueError(f"no index manifest at {out_dir} — build_index first")
    if len(manifest.completed) != manifest.n_segments:
        raise ValueError(
            "append requires a COMPLETE index — resume the pending "
            "build_index first"
        )
    t_start = time.perf_counter()
    # stage metrics describe THIS invocation (manifest contract: stages
    # not run report nothing) — carry only the cumulative append history
    # forward, not the base build's wall clocks
    stage: dict = {
        k: v
        for k, v in (manifest.stage_metrics or {}).items()
        if k == "appends"
    }

    row = docs.agg(F.count(F.lit(1)).alias("n")).first()
    n_new = int(row["n"])
    if n_new == 0:
        return manifest
    first_new = manifest.n_segments
    k = max(1, min(n_new_segments, n_new))
    if k > 1:
        qs = [i / k for i in range(1, k)]
        cuts = [int(x) for x in docs.stat.approxQuantile("doc_id", qs, 0.001)]
        seg_col = (
            sum((F.col("doc_id") > F.lit(int(c))).cast("int") for c in cuts)
            + F.lit(first_new)
        ).cast("int")
    else:
        seg_col = F.lit(first_new).cast("int")
    new_ids = list(range(first_new, first_new + k))
    # clear EVERY partition left by a CRASHED previous attempt — any
    # on-disk segment id >= the committed manifest count is orphaned.
    # A re-run may compute a different k (different n_new_segments or a
    # smaller batch), so clearing only this run's new_ids would leave the
    # crashed attempt's higher-id segments serving their docs twice; and
    # dynamic partition overwrite only rewrites partitions that receive
    # rows, so an id the re-run leaves empty would keep stale postings.
    post_dir = os.path.join(out_dir, "postings")
    if os.path.isdir(post_dir):
        for name in os.listdir(post_dir):
            if not name.startswith("segment_id="):
                continue
            try:
                sid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if sid >= first_new:
                shutil.rmtree(os.path.join(post_dir, name),
                              ignore_errors=True)
    # a term_stats marker referencing ids we just orphaned means the
    # crashed attempt swapped the dictionary before saving the manifest:
    # drop the marker so _merge_term_stats falls back to the idempotent
    # full rebuild over the (now-clean) postings
    ts_marker = os.path.join(out_dir, "term_stats", "_segments.json")
    if os.path.exists(ts_marker):
        included = _ts_included_segments(os.path.join(out_dir, "term_stats"))
        if included is not None and not included <= set(range(first_new)):
            os.remove(ts_marker)
    staged = (
        docs.withColumn("segment_id", seg_col)
        .select("segment_id", "doc_id", "tokens")
        .repartition(k, "segment_id")
    )
    _write_segments(
        spark, staged, out_dir, new_ids, manifest,
        encoder=encoder, stage=stage, t_start=t_start, save=False,
    )
    if stage.get("encode_merge_s"):
        stage["docs_per_sec"] = round(n_new / stage["encode_merge_s"], 1)
    manifest.n_segments += k
    manifest.n_docs += n_new
    appends = list(stage.get("appends", []))
    appends.append(
        {
            "rows": n_new,
            "segments": new_ids,
            "lineage": lineage,
            "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
    )
    stage["appends"] = appends
    t_ts = time.perf_counter()
    _merge_term_stats(spark, out_dir, manifest, new_ids)
    stage["term_stats_s"] = round(time.perf_counter() - t_ts, 3)
    manifest.stage_metrics = stage
    manifest.save(out_dir)
    return manifest


def compact_index(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_segments: int = 8,
) -> IndexManifest:
    """Merge a many-segment index into ``target_segments`` segments at
    ``dst_dir`` — the Lucene segment-merge analog for the segments
    ``append_index`` accumulates (the reference's shards inherit Lucene's
    background merges; a streaming ingest that appends one segment group
    per micro-batch needs an explicit one here, or query cost grows with
    batch COUNT instead of corpus size: top-k is a window over
    n_segments*k survivors and every segment is one verify task).

    Pure posting-level merge — documents are NOT retokenized and scores
    are bit-identical: norms were baked against the avgdl FROZEN at the
    base build, so merged postings carry them unchanged; per-term doc
    lists from the source segments (disjoint doc_ids by the append
    contract) interleave into one sorted run and re-block. df/cf per term
    are sums, global term_stats is invariant (re-derived and checkable).

    Compaction writes a COMPLETE new index (postings + term_stats + a
    fresh manifest, dense segment ids 0..target-1) and leaves ``src_dir``
    untouched — the commit point is the dst manifest, so a failed compact
    is simply re-run and the reader flips directories only on success
    (Lucene's segments_N commit model). Sizing contract matches
    build_index: pick ``target_segments`` so one merged segment's
    postings fit an executor.

    Plan shape (scale): ONE broadcast join of the (old→new) segment map
    onto the posting rows, ONE hash repartition on the new segment id,
    then a per-partition Arrow pass merges whole segments locally — no
    token rows, no global groupBy(term); bytes moved ≈ compressed index
    size. Old segments group CONTIGUOUSLY by id with ~equal postings
    (greedy cut on the manifest's per-segment posting counts), keeping
    doc ranges clustered so delta compression survives the merge.
    """
    if os.path.abspath(dst_dir) == os.path.abspath(src_dir):
        raise ValueError(
            "compact dst_dir must differ from src_dir — dst is the commit "
            "point, src stays readable until the caller flips to dst"
        )
    manifest = read_manifest(src_dir)
    if manifest is None:
        raise ValueError(f"no index manifest at {src_dir}")
    if len(manifest.completed) != manifest.n_segments:
        raise ValueError(
            "compact requires a COMPLETE index — resume the pending "
            "build_index first"
        )
    t_start = time.perf_counter()
    # dst is wholly owned by this operation (DataFrame-write overwrite
    # semantics): clear any partial/orphaned previous compact — dynamic
    # partition overwrite alone would leave STALE segment partitions
    # behind when the new grouping produces fewer segments
    if os.path.exists(dst_dir):
        shutil.rmtree(dst_dir)
    mapping, merged = _compact_merged(spark, src_dir, manifest, target_segments)
    os.makedirs(dst_dir, exist_ok=True)
    # dst was just cleared, so static overwrite semantics are fine here —
    # no session-conf mutation needed (see the foreachBatch-clone note in
    # _write_segments for why conf flips are hazardous)
    merged.write.partitionBy("segment_id").mode("overwrite").parquet(
        os.path.join(dst_dir, "postings")
    )
    written = spark.read.parquet(os.path.join(dst_dir, "postings"))
    metrics = {
        str(r["segment_id"]): {
            "terms": int(r["terms"]),
            "postings": int(r["postings"]),
            "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "merged_from": [s for s, n in mapping.items() if n == int(r["segment_id"])],
        }
        for r in written.groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("terms"), F.sum("df").alias("postings"))
        .collect()
    }
    if sorted(int(s) for s in metrics) != list(range(len(metrics))):
        raise AssertionError(
            f"compaction produced non-dense segment ids {sorted(metrics)} — "
            "append_index id arithmetic would collide; this is a bug"
        )
    out = IndexManifest(
        n_docs=manifest.n_docs,
        avgdl=manifest.avgdl,
        n_segments=len(metrics),
        seg_size=manifest.seg_size,
        block=manifest.block,
        k1=manifest.k1,
        b=manifest.b,
        tokenizer=manifest.tokenizer,
        positions=bool(manifest.positions),
        input_lineage=f"compact({src_dir}): {manifest.input_lineage}",
        completed=metrics,
        stage_metrics={
            "compacted_from_segments": len(mapping),
            "compact_s": round(time.perf_counter() - t_start, 3),
        },
    )
    t_ts = time.perf_counter()
    _finalize_term_stats(spark, dst_dir, out)
    out.stage_metrics["term_stats_s"] = round(time.perf_counter() - t_ts, 3)
    out.save(dst_dir)
    return out


def _compact_merged(
    spark: SparkSession,
    src_dir: str,
    manifest: IndexManifest,
    target_segments: int,
) -> tuple[dict, DataFrame]:
    """The compaction PLAN: (old→new segment map, merged posting rows).

    Split from compact_index so the physical plan is inspectable
    (gen_plans.py) without writing an index."""
    old_ids = sorted(int(s) for s in manifest.completed)
    weights = [int(manifest.completed[str(s)].get("postings", 0)) for s in old_ids]
    # a segment can be EMPTY (every doc in its range had zero tokens —
    # the encoder drops them): it contributes no output rows, so groups
    # and the target are sized on NON-empty segments only, or an
    # all-empty group would leave a hole in the dst id space and a later
    # append_index (ids = n_segments..) could collide with a live id
    n_nonempty = sum(1 for w in weights if w > 0)
    if n_nonempty == 0:
        raise ValueError("nothing to compact — the index has no postings")
    target = max(1, min(int(target_segments), n_nonempty))
    total = float(sum(weights))
    mapping, cum, g, in_g = {}, 0.0, 0, 0
    left = n_nonempty
    for s, w in zip(old_ids, weights):
        # cut BEFORE adding s when the running sum already covers this
        # group's quota (contiguous ids, ~equal postings per group) OR
        # when every remaining non-empty segment must seed its own group
        # — the guard keeps all `target` groups non-empty under skewed
        # weights, so dst segment ids stay dense 0..target-1
        if g < target - 1 and in_g > 0 and w > 0 and (
            cum >= (g + 1) * total / target or left < target - g
        ):
            g, in_g = g + 1, 0
        mapping[s] = g
        if w > 0:
            in_g += 1
            left -= 1
        cum += w
    map_df = spark.createDataFrame(
        [(int(s), int(n)) for s, n in mapping.items()], "segment_id int, new_seg int"
    )
    rows = (
        spark.read.parquet(os.path.join(src_dir, "postings"))
        .join(F.broadcast(map_df), "segment_id")
        .select(
            F.col("new_seg").alias("segment_id"), "term", "df", "cf", "blocks"
        )
        .repartition(target, "segment_id")
    )
    block, positions = manifest.block, bool(manifest.positions)
    out_schema = T.StructType(
        [
            T.StructField("segment_id", T.IntegerType()),
            T.StructField("term", T.StringType()),
            T.StructField("df", T.LongType()),
            T.StructField("cf", T.LongType()),
            T.StructField("blocks", BLOCKS_TYPE),
        ]
    )

    def merge_segments(batches):
        from .codec import decode_block, decode_positions

        per_seg: dict[int, dict[str, list]] = {}
        for pdf in batches:
            for s, grp in pdf.groupby("segment_id"):
                terms = per_seg.setdefault(int(s), {})
                for t, blks in zip(grp["term"], grp["blocks"]):
                    terms.setdefault(t, []).append(blks)
        for s in sorted(per_seg):
            terms_out, dfs_out, cfs_out, blocks_out = [], [], [], []
            for t in sorted(per_seg[s]):
                docs_l, tfs_l, norms_l, pos_l = [], [], [], []
                for blks in per_seg[s][t]:
                    for b in blks:
                        d, tf, nm = decode_block(b)
                        docs_l.append(d)
                        tfs_l.append(tf)
                        norms_l.append(nm)
                        if positions:
                            pb = b["pos_bytes"] if not hasattr(b, "pos_bytes") else b.pos_bytes
                            pos_l.append(decode_positions(bytes(pb), tf))
                doc = np.concatenate(docs_l)
                tf = np.concatenate(tfs_l)
                nm = np.concatenate(norms_l)
                order = np.argsort(doc, kind="stable")
                doc, tf, nm = doc[order], tf[order], nm[order]
                pos_flat = None
                if positions:
                    # gather each posting's position slice into the new
                    # order (vectorized: no per-posting python loop)
                    src_pos = np.concatenate(pos_l) if pos_l else np.empty(0, np.int64)
                    tf_src = np.concatenate(tfs_l)
                    starts = (np.cumsum(tf_src) - tf_src)[order]
                    cnt = tf_src[order]
                    tot = int(cnt.sum())
                    run_off = np.repeat(np.cumsum(cnt) - cnt, cnt)
                    idx = np.repeat(starts, cnt) + (np.arange(tot) - run_off)
                    pos_flat = src_pos[idx]
                terms_out.append(t)
                dfs_out.append(int(len(doc)))
                cfs_out.append(int(tf.sum()))
                blocks_out.append(
                    encode_postings(
                        doc, tf, nm, block=block, positions_flat=pos_flat
                    )
                )
            yield pd.DataFrame(
                {
                    "segment_id": np.full(len(terms_out), s, dtype=np.int32),
                    "term": terms_out,
                    "df": dfs_out,
                    "cf": cfs_out,
                    "blocks": blocks_out,
                }
            )

    return mapping, rows.mapInPandas(merge_segments, out_schema)


def _merge_term_stats(
    spark: SparkSession,
    out_dir: str,
    manifest: IndexManifest,
    new_seg_ids: list[int],
) -> None:
    """Incremental term_stats refresh for an append: aggregate (term, df,
    cf) over ONLY the new segments (partition-pruned scan) and merge with
    the existing dictionary — O(batch + dictionary) per micro-batch, where
    the full rebuild is O(all postings): a streaming ingest doing the
    latter per batch pays quadratic total work as the index grows.

    The merged result writes to a tmp dir (with its `_segments.json`
    inclusion marker — underscore-prefixed, so parquet readers skip it)
    and swaps in via os.rename: the rename IS the commit, and the marker
    makes a replay idempotent. Without it, an append that crashed
    between this swap and the manifest save would re-merge the same
    batch on replay and double-count its df/cf; with it, the replay sees
    its segment ids already included and skips. A dictionary without a
    marker (pre-marker index) falls back to the always-idempotent full
    rebuild."""
    stats_path = os.path.join(out_dir, "term_stats")
    if not os.path.exists(stats_path) and os.path.exists(stats_path + ".old"):
        # crash landed between the swap's two renames: the previous
        # generation is intact under `.old` — restore it and re-merge
        # (idempotent via the inclusion marker)
        os.rename(stats_path + ".old", stats_path)
    included = _ts_included_segments(stats_path)
    if included is None:
        # no dictionary yet, or one without an inclusion marker: rebuild
        # from the postings (idempotent by construction)
        _finalize_term_stats(spark, out_dir, manifest)
        return
    if set(new_seg_ids) <= included:
        return  # crash replay after the swap: already merged
    new_stats = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .filter(F.col("segment_id").isin(new_seg_ids))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
    )
    merged = (
        spark.read.parquet(stats_path)
        .select("term", "df", "cf")
        .unionByName(new_stats)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
    )
    n_terms = sum(m.get("terms", 0) for m in manifest.completed.values()) or 1
    n_files = max(1, math.ceil(n_terms / 4_000_000))
    tmp = stats_path + ".tmp"
    (
        merged.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    _write_ts_marker(tmp, included | set(new_seg_ids))
    # two-rename swap, not rmtree-then-rename: a concurrent reader (the
    # index is advertised queryable during appends) must never observe a
    # missing dictionary for the full duration of a recursive delete.
    # The unreadable window is now the microseconds between the two
    # renames; a crash inside it leaves `.old` on disk, and the next
    # append (or read) path can still see a consistent tree — `.old` is
    # swept here, and replay is idempotent via the _segments.json marker.
    old = stats_path + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(stats_path, old)
    try:
        os.rename(tmp, stats_path)
    except Exception:
        os.rename(old, stats_path)  # restore the previous generation
        raise
    shutil.rmtree(old)


def _ts_included_segments(stats_path: str) -> set[int] | None:
    p = os.path.join(stats_path, "_segments.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return set(json.load(f))


def _write_ts_marker(stats_path: str, seg_ids: set[int]) -> None:
    with open(os.path.join(stats_path, "_segments.json"), "w") as f:
        json.dump(sorted(int(s) for s in seg_ids), f)


def _finalize_term_stats(
    spark: SparkSession, out_dir: str, manifest: IndexManifest
) -> None:
    """Global (term, df, cf) — a light column scan over all segments.

    Output is RANGE-partitioned and sorted by term: term-IN lookups and
    wildcard ``LIKE 'prefix%'`` scans prune both files and row groups via
    parquet min/max stats. The old ``coalesce(1)`` single file was a
    serial write stage (and a non-starter at a 10^12-file corpus whose
    dictionary alone is billions of rows); file count scales with the
    dictionary instead — ~4M terms per output task."""
    stats_path = os.path.join(out_dir, "term_stats")
    stats = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
    )
    # size from the manifest's per-segment term counts (free upper bound on
    # the global dictionary) instead of a second aggregation pass
    n_terms = sum(m.get("terms", 0) for m in manifest.completed.values()) or 1
    n_files = max(1, math.ceil(n_terms / 4_000_000))
    (
        stats.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(stats_path)
    )
    # inclusion marker for the incremental append-side merge; a crash
    # between the write above and this marker just downgrades the next
    # refresh to another full rebuild
    _write_ts_marker(stats_path, {int(s) for s in manifest.completed})


def read_postings(spark: SparkSession, out_dir: str, terms: list[str]) -> DataFrame:
    """Query-side segment scan with term pushdown (parquet row-group pruning
    works because files are sorted by term)."""
    return (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .filter(F.col("term").isin(terms))
    )


def read_term_stats(spark: SparkSession, out_dir: str, terms: list[str]) -> dict[str, int]:
    rows = (
        spark.read.parquet(os.path.join(out_dir, "term_stats"))
        .filter(F.col("term").isin(terms))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}

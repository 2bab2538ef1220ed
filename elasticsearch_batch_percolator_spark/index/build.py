"""Inverted-index materialization: document-partitioned compressed segments.

Layout (the Spark-native answer to Lucene segments-per-shard; the reference
hash-routes queries across ES shards and broadcasts percolate requests,
TransportBatchPercolateAction.java:156-159 — document partitioning is the
same design):

    out_dir/postings/segment_id=K/*.parquet
        (term, df, cf, docs, tfs, norms, positions)
        one row per term, its whole posting list as integer and float
        list columns; sorted by term
    out_dir/term_stats/*.parquet              (term, df, cf) global
    out_dir/manifest.json                     stats + lineage + per-segment
                                              metrics + completed set

Scale properties:
- segment_id = doc_id // seg_size → contiguous doc ranges per segment →
  small deltas, and NO global groupBy(term): the widest row a
  hot term ("def", "the") can produce is bounded by the segment size, which
  is the explicit skew handling the north_rule asks for (a term-partitioned
  layout would put 10^10 postings of "the" in one row/task at 10^12-file
  scale; a document-partitioned one never exceeds seg_size).
- the shuffle is ONE repartition of DOC rows by segment (~corpus bytes on
  the wire — token-level rows would triple that); each task then builds its
  whole segments locally: numpy tf-count + (term, doc) lexsort + run
  grouping in a single Arrow pass, then ``codec.encode_segment``. Parquet
  min/max row-group stats on the term-sorted output give term-lookup
  pruning at read time.
- one codec, one writer: build, append and compaction all encode through
  ``codec.encode_segment`` (compaction first flattens its source rows'
  list columns and turns doc deltas back into ids with
  ``codec.decode_docs``), and all three write through ``_write_postings``,
  Spark's default Parquet writer. The posting layout itself lives in
  ``codec.py`` only; the manifest records its name and ``read_manifest``
  refuses an index written in another.
- parallelism = n_segments (tasks >> cores is the sizing rule: pick
  n_segments ≈ 4×cores or corpus_bytes / ~1 GiB, whichever is larger).
- resume: Spark dynamic partition overwrite rewrites only the segments
  being (re)built; completed segments are recorded in the manifest and
  skipped (north_rule checkpoint/resume; the reference's recovery analog is
  the registry reload, BatchPercolatorQueriesRegistry.java:244-266).
- norms are precomputed at build (avgdl frozen in the manifest), so query
  scoring never touches doc lengths.
- every read of ``postings`` and ``term_stats`` declares its schema
  (``POSTINGS_SCHEMA`` is derived from the writer's ``SEGMENT_SCHEMA``), so
  no read pays a schema-inference job; term filters are built with one
  ``isInCollection`` call (``in_collection``).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from .. import BM25_B, BM25_K1
from .codec import LAYOUT, POSTING_COLUMNS, POSTING_TYPES, decode_docs, encode_segment

#: one row per (segment, term), as the build encoder and the compaction
#: merge emit them; ``segment_id`` becomes the ``postings`` partition directory
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
    ]
    + [T.StructField(c, from_arrow_type(pa.list_(t))) for c, t in POSTING_TYPES.items()]
)
#: ``postings`` as a reader sees it: the file columns, then the partition
#: column (the order a schema-inferring read reports)
POSTINGS_SCHEMA = T.StructType(
    [f for f in SEGMENT_SCHEMA.fields if f.name != "segment_id"]
    + [SEGMENT_SCHEMA["segment_id"]]
)
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
    ]
)


def postings_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every segment's posting rows. The declared schema spares the read
    its schema-inference job (one Spark job per read, tens of ms)."""
    return spark.read.schema(POSTINGS_SCHEMA).parquet(os.path.join(out_dir, "postings"))


def term_stats_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The global (term, df, cf) dictionary, read with a declared schema."""
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(os.path.join(out_dir, "term_stats"))


def in_collection(col: Column, values) -> Column:
    """``col IN values`` as one ``isInCollection`` call. ``Column.isin``
    makes several py4j round trips per literal (building a 202-term filter
    took 85 ms on the driver against 26 ms for this, medians on a 4-vCPU
    Xeon); the predicate is the same ``In``, pushed into the parquet scan,
    and the values need no quoting."""
    return Column(col._jc.isInCollection(list(values)))


@dataclass
class IndexManifest:
    n_docs: int
    avgdl: float
    n_segments: int
    seg_size: int
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
    # the posting layout the segments are written in (``codec.LAYOUT``)
    layout: str = LAYOUT

    def save(self, out_dir: str) -> None:
        tmp = os.path.join(out_dir, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=1)
        os.replace(tmp, os.path.join(out_dir, "manifest.json"))


def read_manifest(out_dir: str) -> IndexManifest | None:
    """The index's manifest, or None when there is none. Every reader and
    writer of an existing index comes through here, so this is where an
    index in another posting layout is refused: its rows would read as
    nulls under ``POSTINGS_SCHEMA`` and answer with postings missing."""
    p = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        raw = json.load(f)
    # manifests from before the layout was recorded hold 128-posting blocks
    found = raw.get("layout", "blocks")
    if found != LAYOUT:
        raise ValueError(
            f"index at {out_dir} is in posting layout {found!r}, this "
            f"version reads {LAYOUT!r} — delete it and rebuild with build_index"
        )
    return IndexManifest(**raw)


def _segment_tables(batches):
    """A partition's Arrow batches → ``(segment id, that segment's rows as
    one Table)`` in id order. Inputs are hash-partitioned on segment_id, so
    a partition holds whole segments only (two segments may share one,
    never split across two) and each table is the complete segment."""
    per_seg: dict[int, list] = {}
    for rb in batches:
        seg = rb.column("segment_id")
        for s in pc.unique(seg).to_pylist():
            per_seg.setdefault(s, []).append(rb.filter(pc.equal(seg, s)))
    for s in sorted(per_seg):
        yield s, pa.Table.from_batches(per_seg[s])


def _rank_terms(strings) -> tuple[np.ndarray, pa.Array]:
    """Arrow term strings → (each string's lexicographic rank, the sorted
    distinct terms). ``dictionary_encode`` runs in C++, so no string
    becomes a python object; UTF-8 byte order is code-point order, so the
    ranks sort exactly as python str comparison does."""
    enc = pc.dictionary_encode(strings)
    chunks = enc.chunks if isinstance(enc, pa.ChunkedArray) else [enc]
    if len(chunks) > 1 and not all(
        c.dictionary.equals(chunks[0].dictionary) for c in chunks[1:]
    ):
        # kernel didn't unify dictionaries across chunks — force it
        chunks = [pc.dictionary_encode(strings.combine_chunks())]
    dictionary = chunks[0].dictionary
    codes = np.concatenate(
        [c.indices.to_numpy(zero_copy_only=False) for c in chunks]
    ).astype(np.int64)
    si = pc.sort_indices(dictionary).to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.empty(len(si), dtype=np.int64)
    rank[si] = np.arange(len(si))
    return rank[codes], pc.take(dictionary, pa.array(si))


def _segment_batch(s, terms, rank, doc, tf, norm, positions) -> pa.RecordBatch:
    """One segment's postings, sorted by (term rank, doc), → its posting
    rows (``SEGMENT_SCHEMA``) through ``codec.encode_segment``; ``terms``
    are the sorted distinct terms ``rank`` indexes."""
    t_starts, df, cf, payload = encode_segment(rank, doc, tf, norm, positions)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.full(len(t_starts), s, dtype=np.int32)),
            pc.take(terms, pa.array(rank[t_starts])),
            pa.array(df, pa.int64()),
            pa.array(cf, pa.int64()),
            *payload,
        ],
        names=SEGMENT_SCHEMA.names,
    )


def _encode_docs(staged: DataFrame, manifest: IndexManifest) -> DataFrame:
    """(segment_id, doc_id, tokens) rows → posting rows, one Arrow pass
    per partition. Every scoring stat (avgdl, k1, b, positions)
    comes from the manifest — FROZEN at first build so resumed and
    appended segments score on the same scale.

    Per segment: term ranks (``_rank_terms``), ONE stable int lexsort by
    (term, doc) whose runs are the postings' tf groups (positions stay
    ascending within a run), norms, then ``codec.encode_segment``."""
    avgdl, k1, b = manifest.avgdl, manifest.k1, manifest.b
    positions = bool(manifest.positions)

    def encode(batches):
        for s, t in _segment_tables(batches):
            toks = t["tokens"]
            counts = (
                pc.fill_null(pc.list_value_length(toks), 0)
                .to_numpy()
                .astype(np.int64)
            )
            if not (counts > 0).any():
                continue
            flat = pc.list_flatten(toks)
            if flat.null_count:
                # fail loudly: a null would rank as a garbage term code
                raise ValueError(
                    "null token elements are not indexable — drop or "
                    "replace nulls in the tokens array before build_index"
                )
            rank, terms = _rank_terms(flat)
            doc_ids = t["doc_id"].to_numpy()
            flat_doc = np.repeat(doc_ids, counts)
            order = np.lexsort((flat_doc, rank))
            rank, flat_doc = rank[order], flat_doc[order]
            flat_dl = np.repeat(counts, counts)[order]
            pair_change = np.flatnonzero(
                (rank[1:] != rank[:-1]) | (flat_doc[1:] != flat_doc[:-1])
            )
            p_starts = np.concatenate([[0], pair_change + 1])
            tf = np.diff(np.concatenate([p_starts, [len(rank)]])).astype(np.int64)
            dl = flat_dl[p_starts]
            norm = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            pos = None
            if positions:
                run_off = np.repeat(np.cumsum(counts) - counts, counts)
                pos = (np.arange(len(run_off), dtype=np.int64) - run_off)[order]
            yield _segment_batch(
                s, terms, rank[p_starts], flat_doc[p_starts], tf, norm, pos
            )

    return staged.mapInArrow(encode, SEGMENT_SCHEMA)


def _write_postings(
    encoded: DataFrame,
    out_dir: str,
    seg_ids: list[int],
    stage: dict,
) -> dict[str, dict]:
    """The one segment writer (build, append and compaction): posting rows
    → ``out_dir/postings/segment_id=K`` by dynamic partition overwrite
    (only segments that receive rows are rewritten), then each of
    ``seg_ids``' (terms, postings) counts read back from the files.
    ``stage`` gets the write (``encode_merge_s``) and readback
    (``segment_metrics_s``) wall clocks."""
    t_enc = time.perf_counter()
    # set the overwrite mode on the session that EXECUTES the write:
    # inside Structured Streaming foreachBatch the batch DataFrame is
    # bound to a CLONED session whose SQLConf was snapshotted at stream
    # start — setting it on the caller's session would leave the clone
    # on STATIC overwrite, and a streaming append would silently wipe
    # every existing segment partition. Restore the prior value after:
    # leaving dynamic mode on would change the semantics of the USER'S
    # own partitioned overwrite writes in the same session.
    sess = encoded.sparkSession
    _MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
    prior_mode = sess.conf.get(_MODE_KEY, None)
    sess.conf.set(_MODE_KEY, "dynamic")
    try:
        encoded.write.partitionBy("segment_id").mode("overwrite").parquet(
            os.path.join(out_dir, "postings")
        )
    finally:
        if prior_mode is None:
            sess.conf.unset(_MODE_KEY)
        else:
            sess.conf.set(_MODE_KEY, prior_mode)
    stage["encode_merge_s"] = round(time.perf_counter() - t_enc, 3)

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
    written = postings_table(sess, out_dir).filter(
        in_collection(F.col("segment_id"), seg_ids)
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
    return metrics


def _write_segments(
    staged: DataFrame,
    out_dir: str,
    seg_ids: list[int],
    manifest: IndexManifest,
    stage: dict,
    t_start: float,
) -> None:
    """Encode ``staged`` (segment_id, doc_id, tokens) rows into compressed
    posting segments (``_encode_docs`` → ``_write_postings``) and record
    their metrics in ``manifest`` — in memory only. build_index saves it
    right away; append_index saves once, AFTER updating n_segments/n_docs,
    so a failed append leaves a clean pre-append manifest and a re-run
    deterministically overwrites the same segment ids."""
    metrics = _write_postings(_encode_docs(staged, manifest), out_dir, seg_ids, stage)
    if stage["encode_merge_s"] > 0:
        stage["docs_per_sec"] = round(
            manifest.n_docs / stage["encode_merge_s"], 1
        )
    elapsed = time.perf_counter() - t_start
    for s in seg_ids:
        m = metrics.get(str(s), {"terms": 0, "postings": 0})
        m["wall_clock_share_s"] = round(elapsed / len(seg_ids), 3)
        manifest.completed[str(s)] = m
    manifest.stage_metrics = stage


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    resume: bool = True,
    lineage: str = "",
    fail_after_segments: int | None = None,
    positions: bool = False,
) -> IndexManifest:
    """Build (or resume) the compressed inverted index for ``docs``
    (doc_id long, tokens array<string>).

    ``fail_after_segments`` is a test hook: abort after materializing that
    many segments to exercise the resume path.

    ``positions=True`` stores within-doc token positions per posting
    — needed only when registered queries include phrases/
    spans that should run index-side (SURVEY.md §7 hard part 2: keep
    positions only where a query needs them; they dominate index size).

    Each segment's postings are encoded in one Arrow pass through
    ``codec.encode_segment`` (``_encode_docs``) and written by the shared
    segment writer (``_write_postings``).
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
        # tf-count, (term, doc) lexsort, run grouping and posting encoding
        # all happen in ONE Arrow pass with zero further data movement.
        # Task memory is bounded by seg_size (the explicit 100-TB contract:
        # pick n_segments so a segment's docs fit an executor).
        staged = (
            docs.withColumn("segment_id", seg_col)
            .filter(in_collection(F.col("segment_id"), missing))
            .select("segment_id", "doc_id", "tokens")
            .repartition(n_segments, "segment_id")
        )

        _write_segments(staged, out_dir, missing, manifest, stage, t_start)
        manifest.save(out_dir)

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
    lineage: str = "",
) -> IndexManifest:
    """Append NEW documents to a COMPLETE index as additional segments.

    This is how 10^12-file corpora actually arrive: incrementally, as
    micro-batches — a full rebuild per batch is a non-starter. Appending
    follows the Lucene segment-add model the reference's shards inherit
    (new segments join the searcher; collection stats drift until a
    rebuild): scoring stats (avgdl, k1, b, positions) stay FROZEN
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

    # ONE pass for the row count and the cut points (accuracy 1000:
    # relative error 0.001). A batch with fewer rows than n_new_segments
    # repeats values among the i/n_new_segments quantiles, so the cuts are
    # the DISTINCT quantiles below the largest id: k = min(n_new_segments,
    # n_new) segments for distinct doc ids (fewer only if approximate
    # quantiles collide), none empty — every cut is one of the batch's ids.
    qs = [i / n_new_segments for i in range(1, n_new_segments)]
    aggs = [F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("top")]
    if qs:
        aggs.append(F.percentile_approx("doc_id", qs, 1000).alias("q"))
    row = docs.agg(*aggs).first()
    n_new = int(row["n"])
    if n_new == 0:
        return manifest
    first_new = manifest.n_segments
    cuts = sorted({int(c) for c in (row["q"] if qs else []) if c < row["top"]})
    k = len(cuts) + 1
    seg_col = (
        sum((F.col("doc_id") > F.lit(c)).cast("int") for c in cuts) + F.lit(first_new)
    ).cast("int")
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
    _write_segments(staged, out_dir, new_ids, manifest, stage, t_start)
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
    contract) interleave into one sorted run and re-encode. df/cf per term
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
    then a per-partition Arrow pass merges whole segments locally
    (``_compact_merged``) — no token rows, no global groupBy(term); bytes
    moved ≈ compressed index size. Old segments group CONTIGUOUSLY by id
    with ~equal postings (greedy cut on the manifest's per-segment posting
    counts), keeping doc ranges clustered so delta compression survives
    the merge.
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
    stage: dict = {"compacted_from_segments": len(mapping)}
    metrics = _write_postings(merged, dst_dir, sorted(set(mapping.values())), stage)
    for s, m in metrics.items():
        m["merged_from"] = [o for o, n in mapping.items() if n == int(s)]
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
        k1=manifest.k1,
        b=manifest.b,
        tokenizer=manifest.tokenizer,
        positions=bool(manifest.positions),
        input_lineage=f"compact({src_dir}): {manifest.input_lineage}",
        completed=metrics,
        stage_metrics={**stage, "compact_s": round(time.perf_counter() - t_start, 3)},
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

    Per merged segment, one ``mapInArrow`` step: its source rows' list
    columns flatten into one array each (doc ids through
    ``codec.decode_docs``), terms rank with the build's ``_rank_terms``,
    one (term, doc) lexsort interleaves the source doc runs and their
    positions, and the build's ``codec.encode_segment`` re-encodes them.

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
        postings_table(spark, src_dir)
        .join(F.broadcast(map_df), "segment_id")
        .select(
            F.col("new_seg").alias("segment_id"), "term", "df", "cf", *POSTING_COLUMNS
        )
        .repartition(target, "segment_id")
    )
    positions = bool(manifest.positions)

    def merge_segments(batches):
        # source doc ids are disjoint (the append contract), so the
        # (term, doc) order is total
        for s, t in _segment_tables(batches):
            dfs = t["df"].to_numpy()
            doc = decode_docs(pc.list_flatten(t["docs"]).to_numpy(), dfs)
            tf = pc.list_flatten(t["tfs"]).to_numpy().astype(np.int64)
            norm = pc.list_flatten(t["norms"]).to_numpy()
            pos = pc.list_flatten(t["positions"]).to_numpy() if positions else None
            row_rank, terms = _rank_terms(t["term"])
            rank = np.repeat(row_rank, dfs)
            order = np.lexsort((doc, rank))
            if positions:
                # gather each posting's position slice into the new order
                starts = (np.cumsum(tf) - tf)[order]
                cnt = tf[order]
                run_off = np.repeat(np.cumsum(cnt) - cnt, cnt)
                pos = pos[np.repeat(starts, cnt) + (np.arange(len(run_off)) - run_off)]
            yield _segment_batch(
                s, terms, rank[order], doc[order], tf[order], norm[order], pos
            )

    return mapping, rows.mapInArrow(merge_segments, SEGMENT_SCHEMA)


def _merge_term_stats(
    spark: SparkSession,
    out_dir: str,
    manifest: IndexManifest,
    new_seg_ids: list[int],
) -> None:
    """Incremental term_stats refresh for an append: the existing
    dictionary's rows plus the (term, df, cf) rows of ONLY the new segments
    (partition-pruned scan), summed per term after one range exchange
    (``_write_term_stats``) — O(batch + dictionary) per micro-batch, where
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
    new_rows = (
        postings_table(spark, out_dir)
        .filter(in_collection(F.col("segment_id"), new_seg_ids))
        .select("term", "df", "cf")
    )
    tmp = stats_path + ".tmp"
    _write_term_stats(
        term_stats_table(spark, out_dir).unionByName(new_rows), tmp, manifest
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
    _write_term_stats(
        postings_table(spark, out_dir).select("term", "df", "cf"), stats_path, manifest
    )
    # inclusion marker for the incremental append-side merge; a crash
    # between the write above and this marker just downgrades the next
    # refresh to another full rebuild
    _write_ts_marker(stats_path, {int(s) for s in manifest.completed})


def _write_term_stats(rows: DataFrame, path: str, manifest: IndexManifest) -> None:
    """Sum (term, df, cf) ``rows`` per term into a range-partitioned,
    term-sorted dictionary at ``path``.

    The range exchange comes BEFORE the sum: a range partitioning on term
    already clusters each term in one partition, so the aggregate runs
    in place and the plan has ONE exchange — two jobs (the range bounds'
    sample, then the write) where aggregating first costs a hash exchange
    on top. Files are sized from the manifest's per-segment term counts
    (a free upper bound on the dictionary, ~4M terms per file)."""
    n_terms = sum(m.get("terms", 0) for m in manifest.completed.values()) or 1
    n_files = max(1, math.ceil(n_terms / 4_000_000))
    (
        rows.repartitionByRange(n_files, "term")
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_postings(spark: SparkSession, out_dir: str, terms: list[str]) -> DataFrame:
    """Query-side segment scan of ``terms``: the ``In(term, ...)`` filter is
    pushed into the parquet scan (files are term-sorted, so row-group
    min/max stats prune), and the declared schema means building this
    DataFrame runs no Spark job."""
    return postings_table(spark, out_dir).filter(in_collection(F.col("term"), terms))


def read_term_stats(spark: SparkSession, out_dir: str, terms: list[str]) -> dict[str, int]:
    """term -> global df for the ``terms`` present in the dictionary."""
    rows = (
        term_stats_table(spark, out_dir)
        .filter(in_collection(F.col("term"), terms))
        .select("term", "df")
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}

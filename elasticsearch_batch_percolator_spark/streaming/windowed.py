"""Watermarked windowed percolation counts (Structured Streaming).

The reference's percolation responses are strictly per-batch
(BatchPercolatorService.java:131-178); trend counts over match streams are
what its users build downstream. Spark-first, that downstream is ONE
declarative incremental pipeline — no foreachBatch, and no python UDF
outside the opt-in hybrid lane below:

    tokenize → SLIM atom streams (ts, doc_id, kind, atom): distinct
               unigrams and n-grams, NO token/ngram arrays carried
               through the explode (a code-file-sized doc pays O(n)
               bytes, not O(n²))
             → broadcast join against the per-query need/forbid atom
               table (the percolate join-verify algebra)
             → windowed (window, doc, query) count aggregate:
               req_hits == n_need AND no forbidden atom present
             → windowed (window, query) doc-count aggregate

The two chained stateful aggregations are the documented Spark
multiple-stateful-operator pattern (both keyed on the event-time window;
late data is dropped by the watermark at the first aggregate, closed
windows emit in append mode). The same plan runs on a BATCH DataFrame
unchanged (watermark is a no-op), which is how the DuckDB oracle checks
it.

Supported query shapes: conjunctions of Term / slop-0-Phrase atoms up to
the join-verify n-gram cap (must + must_not), bare Terms, MatchAll.
Wildcards need the per-batch term dictionary and positional queries need
the evaluator — ``hybrid=True`` runs those (and other token-evaluable
shapes, e.g. must_not-only bools) in-stream through the phase-2 verify
UDF of operators/verify.py (the one percolate's python lane uses, over
its own broadcast of just those queries), feeding the same windowed
aggregate; otherwise they stay on the foreachBatch path
(percolate_stream). Range / Nested plans need the full document row and
are never evaluable from the token stream — they raise (or are skipped
with ``skip_unsupported``) even under ``hybrid=True``.
Field names resolve to the single analyzed content column (the
flat-corpus default, percolate(fields=None)). A doc_id emitted several
times within one window counts as ONE matched document per query: the
per-doc aggregate counts DISTINCT satisfied need atoms, so repeated
events (and repeated tokens within a doc) merge instead of overshooting
the conjunction check.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.query_plan import Term
from ..sources.registry import CompiledRegistry, _UNSET, _jv_requirements

def _ngrams_expr(n: int) -> str:
    """Distinct contiguous n-grams of the ``tokens`` column (space-joined,
    the join-verify atom encoding); short/null arrays yield []."""
    if n == 1:
        return "array_distinct(tokens)"
    return (
        f"case when size(tokens) >= {n} then "
        f"array_distinct(transform(sequence(1, size(tokens) - {n - 1}), "
        f"i -> array_join(slice(tokens, i, {n}), ' '))) "
        f"else array() end"
    )


def _token_evaluable(plan) -> bool:
    """True iff the compiled predicate evaluates correctly on the stream's
    (token_list, token_set) field views — every field resolves to the one
    analyzed content column here. Range needs the raw scalar and Nested
    needs the array-of-structs children; on a token view both are silently
    False (eval_py's type guards), so plans containing them must never
    ride the hybrid python lane — they belong on percolate_stream, where
    the full document row is in scope."""
    from ..plans.query_plan import (
        Bool,
        Exists,
        Fuzzy,
        Ids,
        MatchAll,
        MatchNone,
        Phrase,
        Regexp,
        SpanFirst,
        SpanNear,
        SpanNot,
        SpanOr,
        SpanTerm,
        Wildcard,
        WildcardPhrase,
    )

    if isinstance(
        plan,
        (Term, Wildcard, Fuzzy, Regexp, Exists, Phrase, WildcardPhrase,
         SpanTerm, MatchAll, MatchNone, Ids),
    ):
        # Ids reads the reserved _id view the hybrid UDF injects from the
        # stream's doc_id column (never the token view)
        return True
    if isinstance(plan, Bool):
        return all(
            _token_evaluable(p)
            for g in (plan.must, plan.should, plan.must_not, plan.filter)
            for p in g
        )
    if isinstance(plan, (SpanNear, SpanOr)):
        return all(_token_evaluable(c) for c in plan.clauses)
    if isinstance(plan, SpanNot):
        return _token_evaluable(plan.include) and _token_evaluable(plan.exclude)
    if isinstance(plan, SpanFirst):
        return _token_evaluable(plan.match)
    return False  # Range, Nested, anything unknown


def _specs(
    registry: CompiledRegistry,
) -> tuple[list[tuple], set[int], list[str], list[str]]:
    """One atom-table row per (query, atom):
    (kind, atom, query_id, is_forbid, n_need) where n_need = the query's
    DISTINCT need-atom count. Returns (rows, gram_lengths, matchall,
    unsupported). A query whose need∩forbid atoms overlap can never match
    and contributes no rows (correctly absent).

    ``matchall`` holds ONLY verification-free every-doc queries
    (match_all). An unfilterable-but-CONSTRAINED query (must_not-only
    bool, top-level range — all-docs candidates that batch percolate runs
    through phase-2 verify) must not be counted as matching every event:
    it falls through to the atom logic and lands in ``unsupported``
    (no positive atom), i.e. the hybrid python lane or a loud error."""
    rows: list[tuple] = []
    grams: set[int] = set()
    all_docs = set(registry.all_docs_query_ids())
    matchall = sorted(
        qid for qid in all_docs if not registry.queries[qid].needs_verify
    )
    unsupported: list[str] = []
    for qid, cq in registry.queries.items():
        if cq.match_none or (qid in all_docs and not cq.needs_verify):
            continue
        # blob-backed registries precompute jv_req on the executors —
        # avoid unpickling the plan tree here
        req = cq.jv_req if cq.jv_req is not _UNSET else _jv_requirements(cq.plan)
        if req is None or any(
            # wildcard atoms ("w"/"wg<n>") need the per-batch term
            # dictionary — no static atom stream exists for them; they
            # run on the foreachBatch path (percolate_stream)
            k[0] == "w"
            for k, _f, _v in (*req[0], *req[1])
        ):
            unsupported.append(qid)
            continue
        need_raw, forbid_raw = req
        need = sorted({(k, v) for k, _f, v in need_raw})
        forbid = sorted({(k, v) for k, _f, v in forbid_raw})
        if not need:
            unsupported.append(qid)  # must_not-only: no positive atom
            continue
        if set(need) & set(forbid):
            continue  # required AND forbidden: never matches, no rows
        n_need = len(need)
        for k, v in need:
            rows.append((k, v, qid, False, n_need))
            if k != "t":
                grams.add(int(k[1:]))
        for k, v in forbid:
            rows.append((k, v, qid, True, n_need))
            if k != "t":
                grams.add(int(k[1:]))
    return rows, grams, matchall, unsupported


def windowed_match_counts(
    spark: SparkSession,
    docs: DataFrame,
    registry: CompiledRegistry,
    *,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = "20 minutes",
    content_col: str = "content",
    id_col: str = "doc_id",
    tokenizer=None,
    skip_unsupported: bool = False,
    hybrid: bool = False,
) -> DataFrame:
    """docs (streaming or batch) → (window_start, window_end, query_id,
    n_docs): matched-document counts per event-time window per registered
    query.

    ``hybrid=True`` routes the query shapes the slim atom-stream plan
    can't express (spans, sloppy phrases, wildcards — the reference's
    "positional queries are magnitudes slower" boundary, README.md:127)
    through an in-stream compiled-predicate Arrow UDF: each unsupported
    query evaluates exactly per document event, its hits enter the SAME
    windowed aggregate as single-satisfied-atom rows, so one output
    stream carries both lanes. Cost is |events| x |unsupported| python
    predicate calls — keep the unsupported subset small relative to the
    registry (the atom lane stays JVM-side for everything else).
    """
    from ..functions.tokenizer import tokenize_ws

    rows, grams, matchall, unsupported = _specs(registry)
    if unsupported and hybrid:
        # the python lane sees ONLY the content-token views — plans
        # needing other views (Range scalars, Nested children) would
        # evaluate silently-False there; keep them loud
        inexpressible = sorted(
            qid
            for qid in unsupported
            if not _token_evaluable(registry.queries[qid].plan)
        )
        if inexpressible and not skip_unsupported:
            raise ValueError(
                "not evaluable from the windowed token stream even with "
                "hybrid=True (range/nested need the full document row — "
                "use percolate_stream/foreachBatch): "
                f"{inexpressible[:10]}"
            )
        if inexpressible:
            drop = set(inexpressible)
            unsupported = [q for q in unsupported if q not in drop]
    elif unsupported and not skip_unsupported:
        raise ValueError(
            "unsupported for windowed streaming percolation (use "
            "hybrid=True or percolate_stream/foreachBatch): "
            f"{sorted(unsupported)[:10]}"
        )

    tok = tokenizer or tokenize_ws
    base = docs.select(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("doc_id"),
        tok(content_col).alias("tokens"),
    )
    if watermark is not None:
        base = base.withWatermark("ts", watermark)

    win = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    parts = []
    if rows:
        spec_df = spark.createDataFrame(
            rows,
            "kind string, atom string, query_id string, "
            "is_forbid boolean, n_need int",
        )
        streams = [
            base.select(
                "ts", "doc_id",
                F.lit("t" if n == 1 else f"g{n}").alias("kind"),
                F.explode(F.expr(_ngrams_expr(n))).alias("atom"),
            )
            for n in sorted(grams | {1})
        ]
        atoms = streams[0]
        for s in streams[1:]:
            atoms = atoms.unionByName(s)
        parts.append(
            atoms.join(F.broadcast(spec_df), ["kind", "atom"]).select(
                "ts", "doc_id", "query_id", "is_forbid", "n_need",
                "kind", "atom",
            )
        )
    if matchall:
        qdf = spark.createDataFrame(
            [(q,) for q in sorted(matchall)], "query_id string"
        )
        parts.append(
            base.select("ts", "doc_id")
            .crossJoin(F.broadcast(qdf))
            .select(
                "ts", "doc_id", "query_id",
                F.lit(False).alias("is_forbid"),
                F.lit(1).alias("n_need"),
                # constant atom: repeated events for one doc collapse to a
                # single distinct need atom in the per-doc aggregate
                F.lit("*").alias("kind"),
                F.lit("*").alias("atom"),
            )
        )
    if hybrid and unsupported:
        # python sub-lane: spans / sloppy phrases / wildcards evaluate
        # exactly per event through the shared verify UDF
        # (operators/verify.py, the evaluator percolate's python lane
        # uses) against every unsupported query, and their hits join the
        # windowed aggregate as single-satisfied-atom rows (kind/atom "*"
        # collapses repeated events of one doc, same as match_all).
        # Per-query isolation: a failing predicate drops only its own
        # query for that doc.
        from ..operators.verify import build_verify_plans, verify_udf
        from ..plans.query_plan import fields_of

        # the broadcast is derived per (app, registry version, unsupported
        # set) — a driver that rebuilds the windowed query per restart /
        # registry hot-swap would otherwise accumulate one full plan-blob
        # broadcast per call for the app's lifetime
        sc = spark.sparkContext
        verify = registry.derived(
            "windowed_unsupported",
            (sc.applicationId, tuple(sorted(unsupported))),
            lambda token, _prev: build_verify_plans(
                sc, registry, unsupported, token
            ),
        )
        # every field those queries read views the stream's one tokens
        # column (view 0); the reserved _id field reads the event's doc
        # id as a string scalar (view 1), as percolate's value___id does.
        # Blob-backed queries carry a precomputed field set.
        fields = set()
        for qid in unsupported:
            cq = registry.queries[qid]
            fields |= (
                cq.fields_fs if cq.fields_fs is not None else fields_of(cq.plan)
            )
        qf_to_idx = dict.fromkeys(fields, 0)
        qf_to_idx["_id"] = 1
        # the count is not exposed yet (ROADMAP direction 6)
        verify_doc, _errors = verify_udf(spark, verify, qf_to_idx, set(), {1})
        qids = verify.simple_qids + verify.plan_qids
        parts.append(
            base.select(
                "ts", "doc_id",
                F.explode(
                    verify_doc(
                        F.lit(np.arange(len(qids), dtype=np.int32)),
                        F.col("tokens"),
                        F.col("doc_id").cast("string"),
                    )
                ).alias("vid"),
            ).select(
                "ts", "doc_id",
                # hit vids map back to query ids JVM-side
                F.element_at(F.lit(qids), F.col("vid") + 1).alias("query_id"),
                F.lit(False).alias("is_forbid"),
                F.lit(1).alias("n_need"),
                F.lit("*").alias("kind"),
                F.lit("*").alias("atom"),
            )
        )

    if not parts:
        # derive the empty result FROM the input so its execution mode is
        # preserved — a createDataFrame([]) would be batch-made, and
        # returning that to a streaming caller fails their writeStream
        return (
            base.filter(F.lit(False))
            .select(win.alias("win"), F.lit("").alias("query_id"))
            .select(
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "query_id",
                F.lit(0).cast("long").alias("n_docs"),
            )
        )
    hits = parts[0]
    for p in parts[1:]:
        hits = hits.unionByName(p)

    # req_hits counts DISTINCT satisfied need atoms (size ∘ collect_set,
    # streaming-legal unlike countDistinct), so a doc_id emitted several
    # times in one window — or a repeated token within one doc — merges
    # into the same atom set instead of overshooting the req_hits ==
    # n_need conjunction check. State per (win, doc, query) is bounded by
    # the query's atom count (a handful of short strings).
    atom_key = F.when(
        ~F.col("is_forbid"), F.concat_ws("\x00", "kind", "atom")
    )
    per_doc = (
        hits.groupBy(win.alias("win"), "doc_id", "query_id")
        .agg(
            F.size(F.collect_set(atom_key)).alias("req_hits"),
            F.max(F.when(F.col("is_forbid"), 1).otherwise(0)).alias("forb"),
            F.max("n_need").alias("n_need"),
        )
        .filter((F.col("req_hits") == F.col("n_need")) & (F.col("forb") == 0))
    )
    return (
        per_doc.groupBy("win", "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "query_id",
            "n_docs",
        )
    )

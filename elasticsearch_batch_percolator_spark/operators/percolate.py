"""Batch percolation: registered query set × document micro-batch.

The reference's core pipeline (BatchPercolatorService.percolate:132-174):
parse docs → index batch into a RAMDirectory → phase-1 limiting filter over
ALL queries → per-query phase-2 search + highlight → per-doc result map.
Its per-query loop (E1) is replaced by ONE set-oriented joined plan:

  phase 1   batch (doc_id, field, term) ⋈ broadcast query gate
            (query_id, field, term) rows — the semi-join shape of
            hasDocumentMatchingFilter (BatchPercolatorService.java:197-222)
            for all queries at once, gated on each query's rarest group
  wildcards expanded against the BATCH term dictionary, exactly like the
            reference's automaton over the index terms
            (WildcardTermsProducer.getTerms:26-53)
  phase 2   exact evaluator (plans/eval_py.py) in ONE Arrow pandas UDF
            (operators/verify.py) over surviving (query, doc) pairs:
            dict-dispatched compiled predicates + a set-containment fast
            lane for term conjunctions; pure term/phrase/wildcard
            conjunctions may instead verify in Catalyst (the join-verify
            lane, chosen per registry by cost)
  errors    per-query isolation: a failing phase-2 eval drops that query for
            that doc and adds one to a per-batch Spark accumulator,
            read back as ``PercolateResult.verify_errors`` (the reference
            skips and logs, BatchPercolatorService.java:364-368; YouScan
            aborts)

``percolate()`` runs these as stages over one ``BatchPlan`` — the
registry-derived driver work, cached per registry version and field layout,
its batch statistics carried across versions: batch view → batch_terms
explode → plan → phase-1 candidates → python verify UDF → join-verify lane.

Multi-field documents (A1): ``fields={query_field: source_col | (source_col,
analyzer)}`` mirrors the reference's PerFieldAnalyzerWrapper
(RamDirectoryPercolatorIndex.java:68-81) — every integration test of the
reference queries ``field1``/``field2`` (SimplePercolationTests.java:51-92,
APITests.java:63-139). A query on a field the batch doesn't define behaves
as a query on an EMPTY field (never matches) — per-query, not per-batch, so
one multi-field query can't poison its siblings (E10).

Scale notes (100 TB / 1000-executor thinking):
- query tables are broadcast (225k queries × few terms ≈ MBs);
- the only shuffle is groupBy(doc_id, query_id) over phase-1 HITS, which is
  |batch ∩ query terms|-sized, not |batch × queries|;
- unfilterable queries (approx=None / match_all) cross-join the batch — the
  same cost the reference pays (they run against every RAMDirectory);
- per-batch cleanup = unpersist (E11).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.accumulators import Accumulator
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.build import in_collection
from ..sources.registry import CompiledRegistry
from .verify import VerifyPlans, verify_udf

_LOG = logging.getLogger(__name__)


# join-verify n-gram streams live in an offset fcol space so ONE need
# table + ONE aggregate covers token and every n-gram containment:
# fcol_eff = fcol + 64 * (n - 1), a SMALLINT in the need/hit streams
# (the token-only batch_terms stream stays tinyint). Token columns with
# index >= 64 are n-gram-ineligible (python lane), mirroring the tinyint
# guard on the base space.
#
# ALIASING INVARIANT: a token atom on fcol >= 64 shares its fcol_eff with
# the bigram stream of fcol-64 (and so on), so token/n-gram join keys are
# only disjoint because tokenized values never contain the n-gram joiner
# (a space) — ws/code/numeric analyzers cannot emit space-bearing tokens.
# A Term whose DSL VALUE contains a space would violate that, so
# _jv_structs routes any space-bearing token atom to the python lane
# (where it correctly evaluates: a space-bearing value can never equal a
# tokenizer-produced term).
_GRAM_FCOL_OFF = 64

# pre-explode prune of batch_terms to the registry's term closure
# (_bt_prune_sets); a registry whose closure exceeds either cap keeps the
# full explode (the InSet literal and the per-token LIKE chain must stay
# cheap)
_BT_PRUNE = True
_BT_PRUNE_MAX_TERMS = 20000
_BT_PRUNE_MAX_PATS = 64

# join-verify "auto" guard: take the lane when its ungated hit estimate is
# at most this multiple of the python lane's cost (batch token volume +
# gated candidates) — see _jv_take
_JV_MAX_RATIO = 1.5

# join-verify lane: "auto" (the cost model above), "force" (every eligible
# query) or "off" (none); force and off are each other's test oracle
_JV_MODE = "auto"


def _atom_df(fc: int, kind: str, v: str, col_df: dict, jv_pat_df: dict) -> int:
    """Ungated hit-volume estimate of ONE jv atom against the batch stats.
    Reference implementation — ``_est_q`` below is the flat inlined form
    used in the plan build (equivalence-tested, test_join_verify.py)."""
    from .match import wildcard_to_like

    if kind == "w":
        # exact probed hit volume of the expanded pattern
        return jv_pat_df.get((fc, wildcard_to_like(v)), 0)
    if kind.startswith("wg"):
        # wildcard-phrase bound: min unigram df over the LITERAL
        # positions (the pattern position is unconstrained)
        lits = [w for w in v.split(" ") if not w.startswith("\x01")]
        return min(col_df.get((fc, w), 0) for w in lits)
    if kind != "t":
        # n-gram: min-unigram bound over the gram's words
        return min(col_df.get((fc, w), 0) for w in v.split(" "))
    return col_df.get((fc, v), 0)


def _est_q(jv_specs: dict, col_df: dict, jv_pat_df: dict) -> dict:
    """Per-query ungated hit-volume estimates for the jv lane decision:
    sum of ``_atom_df`` over each query's atoms, as ONE flat inlined pass.
    At a 10^6-query registry the per-atom function-call + genexpr form
    (`sum(_atom_df(*a) ...)` per query) measured ~13s of one-time driver
    CPU; inlining the branches and hoisting the dict lookups runs the same
    arithmetic in a fraction of it. Semantics pinned by
    test_join_verify.py::test_est_q_equals_atom_df_reference."""
    from .match import wildcard_to_like

    cget = col_df.get
    pget = jv_pat_df.get
    out: dict[str, int] = {}
    for q, s in jv_specs.items():
        tot = 0
        for fc, kind, v in s[2]:
            if kind == "t":
                tot += cget((fc, v), 0)
            elif kind == "w":
                tot += pget((fc, wildcard_to_like(v)), 0)
            elif kind[0] == "w":  # "wg<n>"
                tot += min(
                    cget((fc, w), 0)
                    for w in v.split(" ")
                    if not w.startswith("\x01")
                )
            else:  # "g<n>"
                tot += min(cget((fc, w), 0) for w in v.split(" "))
        out[q] = tot
    return out


def _jv_structs(
    registry: CompiledRegistry,
    resolve: dict,
    col_idx: dict,
    nested_cols: set,
    scalar_cols: set,
    used_tok_cols: list,
) -> tuple[dict, set, set]:
    """Layout-dependent join-verify structures (derived once per registry
    version and field layout, see ``_layout_state``: recomputing atom
    eligibility for 10^5 queries costs seconds).

    Returns (specs, probe_terms, pat_probe):
      specs[qid] = (rows, n_required, atoms, gram_cols, never, prows)
        rows  = static need/forbid rows (qid, fcol_eff, term, required)
        prows = pattern rows (qid, fc, n, prefix, like, suffix, required)
                for "w"/"wg<n>" atoms, expanded against the batch term
                dictionary at percolate time (one concrete need row per
                matching dictionary term/gram, deduped per atom per doc)
      probe_terms = {(fc, word)} forbidden/n-gram words for the df stats probe
      pat_probe = {(fc, like)} unigram wildcard patterns needing exact df
    """
    # memoized per FIELD, not per atom: at a 10^6-query registry this is
    # called ~3.1M times over a handful of distinct fields — the un-memoized
    # form alone profiled 9.2s of the 33s one-time build (round-5 profile)
    _fc_memo: dict[str, int | None] = {}

    def plain_fc(f: str):
        if f in _fc_memo:
            return _fc_memo[f]
        tc = resolve.get(f)
        out = (
            None
            if tc is None or tc in nested_cols or tc in scalar_cols
            else col_idx.get(tc)
        )
        _fc_memo[f] = out
        return out

    from .match import wildcard_to_like

    # per-kind gram-length memo (the kind alphabet is tiny; the function
    # call per atom profiled ~1.2s/6M calls at 1M queries)
    _kn: dict[str, int] = {}

    def kind_n(kind: str) -> int:
        n = _kn.get(kind)
        if n is None:
            n = _kn[kind] = _kind_n(kind)
        return n

    # pause cyclic GC for the per-query build (same rationale as
    # registry.broadcast_verify_plans): heavy container churn over a
    # 10^7-query heap makes gen2 collections dominate — measured 303s
    # at 10M queries where 1M-linear extrapolation says ~155s. No
    # cycles are created here; collection is deferred, not skipped.
    import gc

    _gc_was = gc.isenabled()
    gc.disable()
    try:
        specs: dict[str, tuple] = {}
        probe_terms: set[tuple[int, str]] = set()
        pat_probe: set[tuple[int, str]] = set()
        for qid, (need, forbid) in registry.jv_verify_atoms().items():
            ok, never = True, False
            need_pairs: set[tuple[int, str, str]] = set()
            forb_pairs: set[tuple[int, str, str]] = set()
            for pairs, atoms in ((need_pairs, need), (forb_pairs, forbid)):
                required = pairs is need_pairs
                for kind, f, v in atoms:
                    fc = plain_fc(f)
                    if fc is None:
                        if f in resolve:
                            ok = False  # nested/scalar view: python lane
                            break
                        if required:
                            never = True  # required on unconfigured field
                        continue  # forbidden on unconfigured: can't be present
                    if kind_n(kind) > 1 and fc >= _GRAM_FCOL_OFF:
                        ok = False  # n-gram offset space exhausted (>64 columns)
                        break
                    if kind == "t" and " " in v:
                        # space-bearing token value on any column: python lane
                        # (see the ALIASING INVARIANT at _GRAM_FCOL_OFF — on
                        # fcol >= 64 it would falsely join an n-gram stream)
                        ok = False
                        break
                    pairs.add((fc, kind, v))
                if not ok:
                    break
            if not ok:
                continue
            if never:
                specs[qid] = ((), 0, (), (), True, ())
                continue
            rows_q: list[tuple[str, int, str, bool]] = []
            prows_q: list[tuple[str, int, int, str, str, str, bool]] = []
            atoms_q: list[tuple[int, str, str]] = []
            gcols_q: set[tuple[str, int]] = set()
            for fc, kind, v in sorted(need_pairs | forb_pairs):
                n = kind_n(kind)
                fc_eff = fc + _GRAM_FCOL_OFF * (n - 1)
                in_need = (fc, kind, v) in need_pairs
                in_forb = (fc, kind, v) in forb_pairs
                if kind == "w":
                    # bare wildcard: expand against the base token dictionary
                    like = wildcard_to_like(v)
                    pat_probe.add((fc, like))
                    for req in ((True,) if in_need else ()) + (
                        (False,) if in_forb else ()
                    ):
                        prows_q.append((qid, fc, 1, "", like, "", req))
                        atoms_q.append((fc, kind, v))
                    continue
                if kind.startswith("wg"):
                    # wildcard-phrase: ONE "\x01"-marked pattern position;
                    # concrete grams = prefix + <dict term matching like> +
                    # suffix (percolate joins the expansion to the (col, n)
                    # n-gram stream)
                    parts = v.split(" ")
                    wi = next(
                        i for i, p in enumerate(parts) if p.startswith("\x01")
                    )
                    like = wildcard_to_like(parts[wi][1:])
                    prefix = " ".join(parts[:wi]) + (" " if wi else "")
                    suffix = (" " if wi < n - 1 else "") + " ".join(parts[wi + 1:])
                    probe_terms.update(
                        (fc, w) for i, w in enumerate(parts) if i != wi
                    )
                    for req in ((True,) if in_need else ()) + (
                        (False,) if in_forb else ()
                    ):
                        prows_q.append((qid, fc, n, prefix, like, suffix, req))
                        atoms_q.append((fc, kind, v))
                    continue
                if kind != "t":
                    gcols_q.add((used_tok_cols[fc], n))
                    probe_terms.update((fc, w) for w in v.split(" "))
                if in_need:
                    rows_q.append((qid, fc_eff, v, True))
                    atoms_q.append((fc, kind, v))
                if in_forb:
                    rows_q.append((qid, fc_eff, v, False))
                    atoms_q.append((fc, kind, v))
                    if kind == "t":
                        probe_terms.add((fc, v))
            if len(rows_q) + len(prows_q) > 63:
                # the join-verify aggregate assigns each atom one bit of a
                # 64-bit mask (bit_or merges duplicate hits for free — no
                # dedup exchanges); a query with more atoms than bits stays
                # on the python evaluator
                continue
            specs[qid] = (tuple(rows_q), len(need_pairs), tuple(atoms_q),
                          tuple(sorted(gcols_q)), False, tuple(prows_q))
    finally:
        if _gc_was:
            gc.enable()
    return specs, probe_terms, pat_probe


def _bt_prune_sets(
    registry: CompiledRegistry,
    resolve: dict,
    col_idx: dict,
    jv_specs: dict,
    jv_probe_terms: set,
) -> tuple[dict, dict] | None:
    """Per-fcol (literal-term set, LIKE-pattern set) covering EVERY term
    the phase-1/stats/join-verify machinery can join batch_terms on:
    gate-group "t" members, stats-probe words (forbidden / n-gram /
    wildcard-phrase literal words), gate-group "w" patterns, and every
    join-verify expansion pattern ("w" and "wg<n>" — the term dictionary
    only ever expands those). Tokens outside this closure can never
    influence any batch_terms consumer, so they may be dropped BEFORE the
    explode. Returns None (no pruning) when the registry's term/pattern
    footprint exceeds the thresholds — the InSet literal and the per-token
    LIKE chain must stay cheap — or when a group member's field resolves
    outside the indexed columns (defensive; used_tok_cols construction
    makes that impossible today)."""
    from .match import wildcard_to_like

    lits: dict[int, set[str]] = {}
    pats: dict[int, set[str]] = {}
    n_terms = 0
    n_pats = 0

    def build() -> bool:
        nonlocal n_terms, n_pats
        for q in registry.queries.values():
            # match_none guarded explicitly (parity with flat_groups /
            # gates_pdf): register() gives these groups=None today, but a
            # never-matching query must not widen the prune closure
            if q.match_none or not q.groups:
                continue
            for g in q.groups:
                for kind, f, v in g:
                    tc = resolve.get(f)
                    if tc is None or tc not in col_idx:
                        continue
                    fc = col_idx[tc]
                    if kind == "t":
                        s = lits.setdefault(fc, set())
                        if v not in s:
                            s.add(v)
                            n_terms += 1
                            if n_terms > _BT_PRUNE_MAX_TERMS:
                                return False
                    else:
                        s = pats.setdefault(fc, set())
                        if kind == "w":
                            p = wildcard_to_like(v)
                        elif kind == "r":
                            # no sound LIKE superset of a regex: keep the
                            # whole column (pruning would silently drop
                            # matchable tokens before the expansion join)
                            p = "%"
                        else:  # fuzzy f{fz}.{pl}: edits may change any
                            # char past the required prefix — prefix% is
                            # the only sound LIKE superset ('%' at pl=0)
                            pl = int(kind[1:].split(".")[1])
                            p = wildcard_to_like(v[:pl]) + "%" if pl else "%"
                        if p not in s:
                            s.add(p)
                            n_pats += 1
                            if n_pats > _BT_PRUNE_MAX_PATS:
                                return False
        for fc, w in jv_probe_terms:
            s = lits.setdefault(fc, set())
            if w not in s:
                s.add(w)
                n_terms += 1
                if n_terms > _BT_PRUNE_MAX_TERMS:
                    return False
        for spec in jv_specs.values():
            for _qid, fc, _n, _pre, like, _suf, _req in spec[5]:
                s = pats.setdefault(fc, set())
                if like not in s:
                    s.add(like)
                    n_pats += 1
                    if n_pats > _BT_PRUNE_MAX_PATS:
                        return False
        return True

    return (lits, pats) if build() else None


def _kind_n(kind: str) -> int:
    """Gram length of a jv atom kind: "t"/"w" → 1, "g<n>"/"wg<n>" → n."""
    if kind == "t" or kind == "w":
        return 1
    return int(kind[2:] if kind.startswith("wg") else kind[1:])


def _sql_str(w: str) -> str:
    return "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ngram_stream(
    batch: DataFrame,
    tc: str,
    fcb: int,
    n: int,
    first_words: set[str] | None = None,
) -> DataFrame:
    """(doc_id, fcol=fcb, term='w1 .. wn') rows — contiguous n-grams of
    column ``tc`` (space-joined, the jv atom encoding). Null/short arrays
    yield no rows (the CASE guards sequence()'s descending-range trap).

    ``first_words`` prunes generation to positions whose FIRST token is in
    the set (the union of the need atoms' leading words): Catalyst turns
    the literal IN into an InSet hash probe, so the stream allocates only
    grams that can possibly join — at 500k docs the unfiltered bigram
    stream alloc'd ~50M strings per batch only for the broadcast join to
    drop ~97% of them, pure memory-bus traffic (the scaling ceiling on a
    shared-bus box)."""
    starts = f"sequence(1, size({tc}) - {n - 1})"
    if first_words:
        lits = ", ".join(_sql_str(w) for w in sorted(first_words))
        starts = f"filter({starts}, i -> element_at({tc}, i) IN ({lits}))"
    ng = (
        f"case when size({tc}) >= {n} then "
        f"transform({starts}, i -> array_join(slice({tc}, i, {n}), ' ')) "
        f"else array() end"
    )
    return batch.select(
        "doc_id",
        F.lit(fcb).cast("smallint").alias("fcol"),
        F.explode(F.expr(ng)).alias("term"),
    )


def _qid_df(spark: SparkSession, qids) -> DataFrame:
    """query_id DataFrame via pandas/Arrow — 10x faster than a Python
    tuple list at 10^5 registries (driver-side plan-build latency)."""
    return spark.createDataFrame(
        pd.DataFrame({"query_id": list(qids)}), "query_id string"
    )


@dataclass
class PercolateResult:
    """matches: (doc_id, query_id); per_doc(): reference-style per-doc map.

    ``resolve`` maps query field name → tokens column in ``docs``;
    ``content_of`` maps query field name → raw content column (highlights).
    """

    matches: DataFrame
    docs: DataFrame
    resolve: dict = dc_field(default_factory=dict)
    content_of: dict = dc_field(default_factory=dict)
    analyzer_names: dict = dc_field(default_factory=dict)
    cached: list = dc_field(default_factory=list)
    # the python lane's verify-error accumulator (None: no python lane)
    _errors: Accumulator | None = dc_field(default=None, repr=False)

    @property
    def verify_errors(self) -> int:
        """(query, doc) pairs whose phase-2 evaluation raised and were
        dropped (E10). Valid after an action on ``matches``; every
        evaluation of ``matches`` counts again."""
        return self._errors.value if self._errors is not None else 0

    def unpersist(self) -> None:
        """E11 per-batch cleanup: release every DataFrame percolate cached."""
        for df in self.cached:
            try:
                df.unpersist()
            except Exception:  # e.g. its SparkContext is stopped
                _LOG.debug("unpersist of a batch frame failed", exc_info=True)

    def per_doc(self) -> DataFrame:
        """E7: every doc gets an entry, docs with no matches get []
        (emptyPercolateResponses, BatchPercolatorService.java:268-275)."""
        agg = self.matches.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("query_id")).alias("matched_queries")
        )
        return (
            self.docs.select("doc_id")
            .join(agg, "doc_id", "left")
            .withColumn(
                "matched_queries",
                F.coalesce("matched_queries", F.array().cast("array<string>")),
            )
        )

    def counts(self) -> DataFrame:
        """E5 count-only mode (YPercolateRequest.onlyCount:151-158)."""
        return self.matches.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_matches")
        )

    def with_highlights(self, registry: CompiledRegistry) -> DataFrame:
        """E6: (doc_id, query_id, highlights map<field, array<fragment>>)
        per matched pair, honoring each query's registered HighlightSpec
        (fields, tags, requireFieldMatch, highlightQuery, fragments) —
        the reference's per-hit highlight phase
        (BatchPercolatorService.java:420-448, goldens APITests.java:132-139)."""
        from .highlight import highlight_map_col

        joined = self.matches.join(
            self.docs.select("doc_id", *sorted(set(self.content_of.values()))),
            "doc_id",
        )
        content_cols = {qf: F.col(c) for qf, c in self.content_of.items()}
        return joined.select(
            "doc_id",
            "query_id",
            highlight_map_col(
                registry, F.col("query_id"), content_cols, self.analyzer_names
            ).alias("highlights"),
        )

    def with_scores(self, registry: CompiledRegistry, round_to: int | None = 4) -> DataFrame:
        """(doc_id, query_id, score): BM25 of each match against the BATCH
        corpus statistics — the reference scores percolation hits against
        the transient RAMDirectory index, so N/avgdl/df are batch-local
        (track_scores, YPercolatorService.java:518). Our upgrade: ES 2.4
        exposed no scores in percolate responses; BM25 is the north_rule
        contract. Multi-field: each field scores against its OWN batch
        statistics (Lucene per-field similarity), summed per (doc, query).
        Zero-term queries (match_all) score 0.0.
        """
        from .bm25 import score_terms
        from .stats import corpus_stats, doc_freq, doc_lengths, term_frequencies
        from ..plans.query_plan import positive_term_weights

        spark = self.docs.sparkSession
        # score ONLY the queries that matched: the tf join below costs
        # |docs with term| x |queries with term| pairs, and walking every
        # registered query's `plan` would unpickle the whole blob-backed
        # registry on the driver — at a 10^5-query registry both are paid
        # for results the left-join against matches then throws away.
        # The collect here AND the returned join both consume matches, so
        # persist it once (released by unpersist(), E11) — otherwise the
        # whole phase-1/verify pipeline executes twice.
        if not any(df is self.matches for df in self.cached):
            self.matches = self.matches.persist()
            self.cached.append(self.matches)
        matched = {
            r["query_id"]
            for r in self.matches.select("query_id").distinct().collect()
        }
        # (query_id, term) → BM25 weight (qtf × path boost,
        # positive_term_weights — round-5: per-occurrence accumulation and
        # per-clause boosts, matching the index scorers' qtf*boost map)
        # grouped by the tokens COLUMN the field resolves to; fields
        # sharing a column (single-field mode) accumulate
        by_col: dict[str, dict[tuple[str, str], float]] = {}
        nested = {
            tc for qf, tc in self.resolve.items()
            if self.analyzer_names.get(qf) == "nested"
        }
        for qid in sorted(matched):
            cq = registry.queries.get(qid)
            if cq is None:
                continue
            plan = cq.transient_plan()
            for (fld, t), w in sorted(positive_term_weights(plan).items()):
                tc = self.resolve.get(fld)
                if tc is not None and tc not in nested:
                    d = by_col.setdefault(tc, {})
                    d[(qid, t)] = d.get((qid, t), 0.0) + w

        out_score = (
            F.round("score", round_to) if round_to is not None else F.col("score")
        )
        parts = []
        for tc in sorted(by_col):
            docs_tc = self.docs.select(
                "doc_id", F.col(tc).alias("tokens")
            )
            tf = term_frequencies(docs_tc)
            dl = doc_lengths(docs_tc)
            dfreq = doc_freq(tf)
            n, avgdl = corpus_stats(docs_tc)
            qt = spark.createDataFrame(
                sorted((q, t, w) for (q, t), w in by_col[tc].items()),
                "query_id string, term string, w double",
            )
            parts.append(
                score_terms(tf, dl, dfreq, qt, n, avgdl).select(
                    "doc_id", "query_id", "score"
                )
            )
        if parts:
            scored = parts[0]
            for p in parts[1:]:
                scored = scored.unionByName(p)
            scored = scored.groupBy("doc_id", "query_id").agg(
                F.sum("score").alias("score")
            )
        else:
            scored = self.matches.select(
                "doc_id", "query_id", F.lit(0.0).alias("score")
            ).limit(0)
        return (
            self.matches.join(scored, ["doc_id", "query_id"], "left")
            .fillna({"score": 0.0})
            .select("doc_id", "query_id", out_score.alias("score"))
        )


def auto_fields(registry: CompiledRegistry, docs: DataFrame) -> dict:
    """Infer the percolation field map from the registered queries' field
    names ∩ the batch's columns — the reference's
    ``documentMapperWithAutoCreate`` (BatchPercolatorService.java:314):
    a percolated doc needs no explicit mapping, its fields are typed from
    the document itself. Dtype → analyzer: string → "code", numeric →
    "numeric" (Range semantics), array<struct> → "nested" (block join);
    a query field with no same-named batch column (or an unsupported
    dtype) stays unconfigured and never matches, isolated per query."""
    out: dict[str, tuple[str, str]] = {}
    by_name = {f.name: f.dataType for f in docs.schema.fields}
    for qf in sorted(registry.query_fields()):
        dt = by_name.get(qf)
        if dt is None:
            continue
        if isinstance(dt, T.StringType):
            out[qf] = (qf, "code")
        elif isinstance(dt, T.NumericType):
            out[qf] = (qf, "numeric")
        elif isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, T.StructType
        ):
            out[qf] = (qf, "nested")
    return out


@dataclass
class _BatchView:
    """Stage 1 output: the analyzed batch and its field layout."""

    batch: DataFrame
    id_t: str  # doc_id column type: "long" or "string"
    resolve: dict  # query field -> batch column
    content_of: dict  # query field -> raw content column (highlights)
    analyzer_names: dict
    nested_cols: set
    scalar_cols: set
    # token columns the gate groups reference; a column's index here is
    # the tinyint ``fcol`` tag on batch_terms rows
    used_tok_cols: list
    col_idx: dict

    @property
    def layout(self) -> tuple:
        return (
            tuple(sorted(self.resolve.items())),
            tuple(self.used_tok_cols),
            tuple(sorted(self.nested_cols)),
            tuple(sorted(self.scalar_cols)),
        )

    @property
    def fcol_of(self) -> dict:
        """query field -> fcol, for fields on an exploded token column."""
        return {
            f: self.col_idx[tc]
            for f, tc in self.resolve.items()
            if tc in self.col_idx
        }


@dataclass
class BatchStats:
    """Batch term statistics behind a plan's gate choice and join-verify
    lane decision, carried from plan to plan across registry versions.

    A registry mutation whose probe closure the previous plan's statistics
    cover replans from them with no Spark job (the reference registers or
    deletes a query with one put or remove in the shard's query map,
    BatchPercolatorQueriesRegistry.java:129-136, and the next batch does no
    extra work); one that brings a new key probes the whole closure on the
    current batch, so all of a plan's statistics come from one batch. Each
    plan keeps only the keys of its own probe closure, so the size is
    bounded by the live registry, not by its history. Reused values may
    come from an earlier batch; like every plan statistic they steer
    performance, never results."""

    # (fcol, term) -> batch df; ``probed`` holds every key of the probe
    # closure, df 0 included (absent from col_df)
    col_df: dict
    probed: frozenset
    # (fcol, like) -> batch_terms rows matching a jv wildcard pattern
    pat_df: dict
    pat_probed: frozenset
    # the python lane's fixed-cost proxy (see _jv_take); None when no
    # "auto" lane decision needed it
    token_volume: int | None


@dataclass
class BatchPlan:
    """Registry-derived artifacts of one percolation, derived per (version,
    field layout, jv mode) and reused by every batch until the registry
    mutates.

    Chosen from batch term statistics (``BatchStats`` → gate choice and
    join-verify lane decision). Those statistics only steer performance —
    which gate each query joins on, which lane verifies it — never
    results, so a later batch with different statistics reuses the plan
    safely, and a registry mutation over known vocabulary replans from the
    replaced plan's statistics (a new key re-probes from cold). At the
    225k-query shape a cold build measured 6.5s of a 17.1s batch (BENCH
    r2); a replan over known vocabulary launches no Spark job.
    """

    # join-verify lane: the queries it owns (they skip phase 1), their
    # static need/forbid rows, pattern rows and (column, n) n-gram streams
    jv_qids: set
    jv_rows: list
    jv_prows: list
    jv_gram_cols: set
    # (need, qmask, qmap, pat, patq) broadcast tables — see _jv_tables
    jv_tables: tuple | None
    # phase-1 broadcast tables: literal gates, pattern gates, all-docs qids
    gates_sdf: DataFrame | None
    patterns_sdf: DataFrame | None
    alldocs_sdf: DataFrame | None
    # False when every query is decided exactly by its gate group
    needs_verify: bool
    exact_sdf: DataFrame | None  # queries phase 1 decides exactly
    # python lane: the candidate filter to its queries (None when they are
    # every candidate-producing query), the query_id -> vid map and the
    # verify broadcast (both None when no query is python-verified)
    pythonic_sdf: DataFrame | None
    vid_sdf: DataFrame | None
    verify: VerifyPlans | None
    # the statistics the plan was chosen from; the next registry version's
    # plan starts from them
    stats: BatchStats


def _batch_view(
    docs: DataFrame,
    registry: CompiledRegistry,
    content_col: str,
    id_col: str,
    tokenizer,
    fields: dict | None,
) -> _BatchView:
    """Stage 1: project + analyze the batch into per-field columns."""
    from ..functions.tokenizer import tokenize_code, tokenize_ws

    analyzers = {"ws": tokenize_ws, "code": tokenize_code}
    qfields = sorted(registry.query_fields())

    # document ids: numeric ids ride as long (compact join/group keys);
    # anything else stays string — the reference's _id is a string
    # (BatchPercolatorService percolates arbitrary ES doc ids), so a
    # string-keyed corpus must not die in an implicit bigint cast. The
    # type is threaded through the empty-frame schemas below; every
    # other consumer (joins, groupBys, highlight, scoring) takes the
    # column's type as-is.
    id_t = (
        "long"
        if isinstance(docs.schema[id_col].dataType, T.NumericType)
        else "string"
    )

    # reserved ``_id`` pseudo-field: Ids queries compare against the batch
    # id column (as a string scalar), never against a content column —
    # resolved here regardless of the fields configuration, the analog of
    # ES serving _id from metadata rather than the mapping
    uses_id = "_id" in qfields
    sel = [F.col(id_col).cast(id_t).alias("doc_id")]
    resolve, content_of, analyzer_names = {}, {}, {}
    nested_cols: set[str] = set()
    scalar_cols: set[str] = set()
    if fields is None:
        tok = tokenizer or tokenize_ws
        sel += [F.col(content_col).alias("content"), tok(content_col).alias("tokens")]
        for qf in qfields:
            if qf != "_id":
                resolve[qf] = "tokens"
                content_of[qf] = "content"
                analyzer_names[qf] = "ws"
    if uses_id:
        sel.append(F.col(id_col).cast("string").alias("value___id"))
        resolve["_id"] = "value___id"
        scalar_cols.add("value___id")
    for qf in sorted(fields or ()):
        if qf == "_id":
            continue  # reserved: always the id column, never remappable
        spec = fields[qf]
        src_col, an = spec if isinstance(spec, tuple) else (spec, "ws")
        if an == "nested":
            # Q10: the column is a pre-tokenized array<struct> of child
            # objects (child fields = array<string> tokens); Nested
            # queries on this path bind per child
            sel.append(F.col(src_col).alias(f"tokens__{qf}"))
            resolve[qf] = f"tokens__{qf}"
            nested_cols.add(f"tokens__{qf}")
            analyzer_names[qf] = "nested"
            continue
        if an == "numeric":
            # Q12 in percolation: a mapping-typed numeric field — Range
            # plans read the scalar (the reference's term-on-long-field
            # becomes a RangeQuery, ConcurrentPercolation.java:53-57)
            sel.append(F.col(src_col).alias(f"value__{qf}"))
            resolve[qf] = f"value__{qf}"
            scalar_cols.add(f"value__{qf}")
            analyzer_names[qf] = "numeric"
            continue
        tok = an if callable(an) else analyzers[an]
        sel.append(F.col(src_col).alias(f"content__{qf}"))
        sel.append(tok(src_col).alias(f"tokens__{qf}"))
        resolve[qf] = f"tokens__{qf}"
        content_of[qf] = f"content__{qf}"
        analyzer_names[qf] = an if isinstance(an, str) else "ws"
    batch = docs.select(*sel)

    # only the columns gate groups actually reference get exploded — an
    # unqueried field never pays the token-explode cost
    used_tok_cols = sorted(
        {
            resolve[f]
            for q in registry.queries.values()
            if q.groups
            for g in q.groups
            for _, f, _ in g
            if f in resolve
        }
    )
    # the field tag on token rows is a TINYINT index into used_tok_cols —
    # one byte through the dedup/join shuffles, not a repeated column-name
    # string (single-field batches pay ~nothing for multi-field generality).
    # Beyond 127 queried token columns the index would wrap and silently
    # cross-match fields — refuse loudly (mirrors the bigram-offset guard)
    if len(used_tok_cols) > 127:
        raise ValueError(
            f"{len(used_tok_cols)} queried token columns exceed the tinyint "
            "fcol space (127); split the batch by field group"
        )
    return _BatchView(
        batch=batch,
        id_t=id_t,
        resolve=resolve,
        content_of=content_of,
        analyzer_names=analyzer_names,
        nested_cols=nested_cols,
        scalar_cols=scalar_cols,
        used_tok_cols=used_tok_cols,
        col_idx={tc: i for i, tc in enumerate(used_tok_cols)},
    )


def _layout_state(
    registry: CompiledRegistry, view: _BatchView, jv_mode: str
) -> tuple[tuple, tuple[dict, dict] | None]:
    """(jv structures, batch_terms prune closure) for ``view``'s field
    layout, derived once per registry version. ``jv_mode`` is part of the
    key: the closure includes jv probe words and expansion patterns, which
    are EMPTY when the lane is off — a closure built under off must not be
    reused by an auto/force call, or jv-only tokens (e.g. a forbidden
    wildcard's expansions) would be pruned out of batch_terms and the
    exclusion silently lost."""

    def build(_token, _prev):
        jv = ({}, set(), set())
        if jv_mode != "off":
            jv = _jv_structs(
                registry, view.resolve, view.col_idx, view.nested_cols,
                view.scalar_cols, view.used_tok_cols,
            )
        if not _BT_PRUNE:
            return jv, None
        return jv, _bt_prune_sets(
            registry, view.resolve, view.col_idx, jv[0], jv[1]
        )

    return registry.derived("layout", (view.layout, jv_mode), build)


def _child_token_arrays(batch: DataFrame, tc: str) -> list[Column]:
    """Nested column ``tc``: per array-typed child field, that field's token
    arrays flattened over the doc's children (null when the doc has none)."""
    dt = batch.schema[tc].dataType

    def _getter(name):
        # NB: one-parameter lambda only — a second (defaulted) parameter
        # would make F.transform pass the ARRAY INDEX into it
        return lambda c: c.getField(name)

    return [
        F.flatten(F.transform(F.col(tc), _getter(f.name)))
        for f in dt.elementType.fields
        if isinstance(f.dataType, T.ArrayType)
    ]


def _batch_terms(
    spark: SparkSession,
    view: _BatchView,
    bt_prune: tuple[dict, dict] | None,
    cached_frames: list,
) -> DataFrame:
    """Stage 2: the (doc_id, fcol, term) explode every phase-1, stats and
    join-verify join reads — one row per distinct token per doc and column.

    The gate-term prune: batch_terms only ever joins against the
    registry's term closure (gate literals, probe words, pattern matches —
    _bt_prune_sets), so tokens outside it can be dropped: at 500k docs x
    200 queries the candidate-generation stage (explode + hash + broadcast
    probe of every token) measured 68% of percolate's core-seconds, almost
    all on tokens no query references. The prune runs as a codegen WHERE
    AFTER the explode, NOT as a filter() lambda on the array: every
    higher-order array function is CodegenFallback (interpreted, boxed, a
    closure call per element), and the lambda variant of this prune
    measured 185 executor-seconds at 400k docs x 40 LIKE patterns where
    the fused explode+WHERE (InSet + StartsWith after Catalyst's
    LikeSimplification) does the same cut inside whole-stage codegen —
    rows die in-pipeline before any materialization or shuffle. Large
    registries that exceed the thresholds keep the full explode."""
    batch, scalar_cols, nested_cols = view.batch, view.scalar_cols, view.nested_cols

    def _prune_pred(fc: int):
        """Codegen WHERE predicate keeping the term closure of column
        ``fc`` — or None (keep all) / False (column joins nothing)."""
        if bt_prune is None:
            return None
        lits = sorted(bt_prune[0].get(fc, ()))
        pats = sorted(bt_prune[1].get(fc, ()))
        if not lits and not pats:
            return False  # no query can join on this column's terms
        c = in_collection(F.col("term"), lits) if lits else None
        for p in pats:
            lk = F.col("term").like(p)
            c = lk if c is None else (c | lk)
        return c

    parts = []
    for tc in view.used_tok_cols:
        if tc in scalar_cols:
            continue  # numeric fields carry no gate terms
        pred = _prune_pred(view.col_idx[tc])
        if pred is False:
            continue
        if tc not in nested_cols:
            # array_distinct BEFORE the explode = the per-(doc, fcol, term)
            # dedup downstream counting relies on, WITHOUT a shuffle: a
            # doc's duplicate tokens live in its own array, never across
            # rows, so the old global dropDuplicates shuffled ~|tokens|
            # rows to remove partition-local duplicates (measured the
            # single largest memory-traffic stage at 150k docs x 32 cores
            # — the bench box's shared memory bus is the scaling ceiling)
            toks = F.col(tc)
        else:
            # nested column: every child's token arrays flatten into the
            # parent's gate stream (matches the limiting-filter field
            # remap) — ALL child token arrays concat + array_distinct + ONE
            # explode: per-(doc, fcol, term) dedup across children without
            # a shuffle
            child_toks = [
                F.coalesce(a, F.array()) for a in _child_token_arrays(batch, tc)
            ]
            if not child_toks:
                continue
            toks = child_toks[0]
            for c in child_toks[1:]:
                toks = F.concat(toks, c)
        rows = batch.select(
            "doc_id",
            F.lit(view.col_idx[tc]).cast("tinyint").alias("fcol"),
            F.explode(F.array_distinct(toks)).alias("term"),
        )
        parts.append(rows.where(pred) if pred is not None else rows)
    if not parts:
        return spark.createDataFrame(
            [], f"doc_id {view.id_t}, fcol tinyint, term string"
        )
    batch_terms = parts[0]
    for p in parts[1:]:
        batch_terms = batch_terms.unionByName(p)
    # per-(doc, fcol, term) uniqueness is established INSIDE each doc's
    # array (array_distinct above) — parts have disjoint fcols, so no
    # global dropDuplicates shuffle is needed (it was the plan's largest
    # exchange: ~|batch tokens| rows moved only to drop partition-local
    # duplicates). Shuffle-free partition-count control instead: the raw
    # explode keeps the batch's (cores*4) partitioning, and every
    # downstream job over the cache re-pays that task count; coalesce to
    # one partition per core (narrow, no data movement). Persisted: the
    # stats probe, the candidate join and the wildcard dictionary all
    # reuse this explode (E11: unpersisted with the batch).
    batch_terms = batch_terms.coalesce(
        max(1, spark.sparkContext.defaultParallelism)
    ).persist()
    cached_frames.append(batch_terms)
    return batch_terms


def _probe_terms(spark: SparkSession, batch_terms: DataFrame, keys) -> dict:
    """Batch df of each (fcol, term) in ``keys`` (df 0 keys absent): one
    broadcast-join aggregate over the persisted explode."""
    ipdf = pd.DataFrame(sorted(keys), columns=["fcol", "term"])
    ipdf["fcol"] = ipdf["fcol"].astype("int8")
    inv_df = spark.createDataFrame(ipdf, "fcol tinyint, term string")
    return {
        (int(r["fcol"]), r["term"]): int(r["df"])
        for r in batch_terms.join(F.broadcast(inv_df), ["fcol", "term"])
        .groupBy("fcol", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }


def _probe_patterns(spark: SparkSession, batch_terms: DataFrame, pats) -> dict:
    """Exact hit volume of each jv "w" pattern (fcol, like): rows of
    batch_terms matching it (the join the lane would actually pay). One
    LIKE-join job on the persisted explode."""
    ppdf = pd.DataFrame(sorted(pats), columns=["fcol", "like_pat"])
    ppdf["fcol"] = ppdf["fcol"].astype("int8")
    probe_sdf = spark.createDataFrame(ppdf, "fcol tinyint, like_pat string")
    return {
        (int(r["fcol"]), r["like_pat"]): int(r["df"])
        for r in batch_terms.join(F.broadcast(probe_sdf), "fcol")
        .filter(F.expr("term LIKE like_pat"))
        .groupBy("fcol", "like_pat")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }


def _batch_stats(
    spark: SparkSession,
    registry: CompiledRegistry,
    view: _BatchView,
    jv: tuple,
    jv_mode: str,
    bt_prune,
    batch_terms: DataFrame,
    prev: BatchStats | None,
) -> BatchStats:
    """Batch df of every involved (fcol, term) and of every jv wildcard
    pattern, plus the batch's token volume. ``prev`` (the replaced plan's
    statistics, None on a cold plan) is reused, filtered to the live keys,
    when it covers the whole probe closure; otherwise the whole closure is
    probed on this batch. Either way every statistic of a plan comes from
    one batch, so df and volume stay comparable."""
    jv_specs, jv_probe_terms, jv_pat_probe = jv
    # stats-probe vocabulary from the registry's flat gate-group table
    # (cached per version; the per-query python set comprehension
    # measured ~10s of driver time at a 10^6-query registry)
    _, fg_tbl = registry.flat_groups()
    inv = fg_tbl[fg_tbl["kind"] == "t"]
    inv = inv.assign(fcol=inv["field"].map(view.fcol_of))
    inv = inv.dropna(subset=["fcol"])[["fcol", "value"]].drop_duplicates()
    # forbidden atoms of join-verify candidates aren't gate-group
    # members — add their words to the stats probe so the volume
    # estimate covers them
    involved = set(zip(inv["fcol"].astype(int).tolist(), inv["value"])) | jv_probe_terms
    needs_volume = bool(jv_specs) and jv_mode == "auto"
    if (
        prev is not None
        and involved <= prev.probed
        and jv_pat_probe <= prev.pat_probed
        and (prev.token_volume is not None or not needs_volume)
    ):
        return BatchStats(
            col_df={k: d for k, d in prev.col_df.items() if k in involved},
            probed=frozenset(involved),
            pat_df={k: d for k, d in prev.pat_df.items() if k in jv_pat_probe},
            pat_probed=frozenset(jv_pat_probe),
            token_volume=prev.token_volume,
        )
    token_volume = None
    if needs_volume:
        # the pruned stream no longer proxies the python lane's fixed cost
        # (Arrow-shipping candidate docs' FULL token arrays) — measure the
        # batch's raw token volume instead. Either count proxies the same
        # cost, so a reused value serves a plan whose prune state differs
        token_volume = (
            _raw_token_volume(view) if bt_prune is not None
            else batch_terms.count()
        )
    return BatchStats(
        col_df=_probe_terms(spark, batch_terms, involved) if involved else {},
        probed=frozenset(involved),
        pat_df=(
            _probe_patterns(spark, batch_terms, jv_pat_probe)
            if jv_pat_probe else {}
        ),
        pat_probed=frozenset(jv_pat_probe),
        token_volume=token_volume,
    )


def _gate_choice(
    registry: CompiledRegistry, view: _BatchView, col_df: dict
) -> tuple[dict, "pd.DataFrame", "pd.DataFrame"]:
    """(term_df, literal-gate pdf, pattern-gate pdf): the gate choice the
    batch statistics steer, on the driver."""
    # registry.gates_pdf keys by (query_field, term): project through
    # resolve (fields outside every gate group have no column index —
    # skip them). One pass over col_df grouped by fcol, then one pass per
    # field over ITS terms — the per-field scan of the whole col_df was
    # O(fields x batch vocabulary)
    by_fc: dict[int, list] = {}
    for (ci, t), d in col_df.items():
        by_fc.setdefault(ci, []).append((t, d))
    term_df = {
        (qf, t): d
        for qf, fc in view.fcol_of.items()
        for t, d in by_fc.get(fc, ())
    }
    lit_pdf, pat_pdf = registry.gates_pdf(
        pd.DataFrame(
            [(f, v, d) for (f, v), d in term_df.items()],
            columns=["field", "value", "df"],
        )
    )
    return term_df, lit_pdf, pat_pdf


def _raw_token_volume(view: _BatchView) -> int:
    """Total token count of the batch's queried columns — one columnar
    scan, no explode."""
    size_cols = []
    for tc in view.used_tok_cols:
        if tc in view.scalar_cols:
            continue
        if tc not in view.nested_cols:
            size_cols.append(F.coalesce(F.size(F.col(tc)), F.lit(0)))
            continue
        size_cols.extend(
            F.coalesce(F.size(a), F.lit(0))
            for a in _child_token_arrays(view.batch, tc)
        )
    if not size_cols:
        return 0
    vol = size_cols[0]
    for c in size_cols[1:]:
        vol = vol + c
    return int(view.batch.agg(F.sum(vol).alias("v")).first()["v"] or 0)


def _jv_take(
    jv_mode: str,
    jv_specs: dict,
    stats: BatchStats,
    term_df: dict,
    lit_pdf: "pd.DataFrame",
) -> set:
    """The join-verify lane decision: which jv-eligible queries it owns.

    Pure term-conjunction queries (must/filter all Terms, must_not all
    Terms) on plain token fields can be verified ENTIRELY in Catalyst:
      batch_terms ⋈ broadcast(required+forbidden term table)
      → groupBy (doc, query) → req_hits == n_required AND forbid_hits == 0
    No Arrow token shipping, no Python — the lane that scales with cores.
    "force" takes every eligible query; "auto" compares costs. Python-lane
    cost ≈ Arrow-shipping every candidate doc's tokens (bounded by the
    batch's token volume, a FIXED cost paid once if ANY query stays
    pythonic) + per-candidate set checks (≈ gated candidate volume).
    Join-lane cost ≈ the ungated hit volume of the query's atoms. If the
    total estimate is comparable to the python lane's fixed + variable
    cost, take everything (no python lane at all); otherwise fall back to
    the static-atom subset, else nothing."""
    if jv_mode == "force":
        return set(jv_specs)
    est_q = _est_q(jv_specs, stats.col_df, stats.pat_df)
    if len(lit_pdf):
        ldf = lit_pdf[lit_pdf["query_id"].isin(jv_specs.keys())]
        ldf = ldf.assign(
            df=[term_df.get((f, t), 0) for f, t in zip(ldf["field"], ldf["term"])]
        )
        gate_df_q = ldf.groupby("query_id")["df"].sum().to_dict()
    else:
        gate_df_q = {}
    vol = stats.token_volume
    gated_all = sum(gate_df_q.get(q, 0) for q in jv_specs)
    if sum(est_q.values()) <= _JV_MAX_RATIO * (vol + gated_all):
        return set(jv_specs)
    # pattern-bearing queries' expansions blew the budget: fall back to
    # the static-atom subset (never worse than the pre-wildcard lane)
    static = {q for q, s in jv_specs.items() if not s[5]}
    est_static = sum(est_q[q] for q in static)
    gated_static = sum(gate_df_q.get(q, 0) for q in static)
    if static and est_static <= _JV_MAX_RATIO * (vol + gated_static):
        return static
    return set()


def _batch_plan(
    spark: SparkSession,
    registry: CompiledRegistry,
    view: _BatchView,
    jv_mode: str,
    jv: tuple,
    bt_prune,
    batch_terms: DataFrame,
    prev_stats: BatchStats | None,
) -> BatchPlan:
    """Stage 3: everything registry-derived a batch needs: batch stats
    (reused from ``prev_stats``, those of the plan this one replaces, when
    they cover it) → gates → jv lane decision → jv tables →
    gate/pattern/all-docs frames → python qid set → exact, vid and
    pythonic frames."""
    jv_specs = jv[0]
    stats = _batch_stats(
        spark, registry, view, jv, jv_mode, bt_prune, batch_terms, prev_stats
    )
    term_df, lit_pdf, pat_pdf = _gate_choice(registry, view, stats.col_df)
    jv_qids = (
        _jv_take(jv_mode, jv_specs, stats, term_df, lit_pdf)
        if jv_specs
        else set()
    )
    # eligible = every need/forbid field resolves to a PLAIN exploded
    # token column (nested/scalar views diverge from batch_terms' flattened
    # rows, so those stay on the python evaluator). A required term on an
    # unconfigured field can never match — the query joins with zero rows,
    # same outcome as the python lane. n-gram atoms ("g<n>") join against a
    # per-(column, n) n-gram stream whose fcol is offset by
    # _GRAM_FCOL_OFF * (n-1) — one need table, one aggregate, token and
    # every n-gram containment together
    jv_rows: list[tuple[str, int, str, bool]] = []
    jv_prows: list[tuple[str, int, int, str, str, str, bool]] = []
    jv_nreq: list[tuple[str, int]] = []
    jv_gram_cols: set[tuple[str, int]] = set()
    for qid in jv_qids:
        rows_q, nreq, _atoms, gcols_q, never, prows_q = jv_specs[qid]
        if never:
            continue  # matched-never: no rows, no group, no match
        jv_rows.extend(rows_q)
        jv_prows.extend(prows_q)
        jv_nreq.append((qid, nreq))
        jv_gram_cols.update(gcols_q)

    # phase-1 gate tables: gate rows' query fields map to token columns;
    # members on unmapped fields are dropped (those contribute no
    # candidates — an empty field can never satisfy a positive term). A
    # query whose ENTIRE gate group is unmapped gets zero candidates and
    # correctly never matches. Join-verify queries skip phase 1 entirely —
    # their lane is exact on its own, so their gate rows would only inflate
    # the candidate dedup shuffle.
    fcol_of = view.fcol_of

    def _map_gates(src: "pd.DataFrame", val_col: str, extra: tuple = ()):
        if not len(src):
            return src
        out = src[~src["query_id"].isin(jv_qids)] if jv_qids else src
        out = out.assign(fcol=out["field"].map(fcol_of))
        out = out.dropna(subset=["fcol"])
        cols = {
            "query_id": out["query_id"].to_numpy(),
            "fcol": out["fcol"].to_numpy(dtype="int8"),
            val_col: out[val_col].to_numpy(),
        }
        for c in extra:
            cols[c] = out[c].to_numpy()
        return pd.DataFrame(cols)

    gpdf = _map_gates(lit_pdf, "term")
    ppdf = _map_gates(pat_pdf, "pattern", ("pkind", "fz", "pfx"))
    all_doc_qids = registry.all_docs_query_ids()

    # ids only: a blob-backed registry (distributed compile) must not
    # unpickle 10^5 plan trees on the driver just to split the verify set
    # — the python-evaluator lane reads plans from the verify broadcast's
    # executor-pickled blobs, never from here
    verify_ids = registry.gate_verify_ids()
    verify_set = set(verify_ids)
    # the join-verify lane owns its queries (phase-1-skipped, exact)
    pythonic = [q for q in verify_ids if q not in jv_qids]
    # queries decided exactly by phase 1 pass through without
    # verification; joining on this (usually small) set beats an
    # anti-join against the 10^5-row verify set
    exact_qids = [
        q for q, cq in registry.queries.items()
        if not cq.match_none and q not in verify_set
    ]
    exact_sdf = _qid_df(spark, exact_qids) if exact_qids else None
    vid_sdf = pythonic_sdf = verify = None
    if pythonic:
        # query_id -> vid map (vid = unified verify row: simple rows 0..,
        # then plan rows): candidates join it JVM-side (ONE broadcast hash
        # table per executor) so no python worker ever builds a 10^6-entry
        # qid dict or materializes 10^6 qid strings — that build measured
        # ~47s/worker at 1M queries under 32-way allocation contention.
        verify = registry.broadcast_verify_plans(spark)
        qids = verify.simple_qids + verify.plan_qids
        vid_sdf = spark.createDataFrame(
            pd.DataFrame(
                {"query_id": qids, "vid": np.arange(len(qids), dtype=np.int32)}
            ),
            "query_id string, vid int",
        )
        # when EVERY candidate-producing query is pythonic (the
        # 10^5-registry wholesale path: no exact queries), the semi join
        # is a no-op — skip it instead of broadcasting a 10^5-row filter
        if exact_sdf is not None:
            pythonic_sdf = _qid_df(spark, pythonic)
    return BatchPlan(
        jv_qids=jv_qids,
        jv_rows=jv_rows,
        jv_prows=jv_prows,
        jv_gram_cols=jv_gram_cols,
        jv_tables=(
            _jv_tables(spark, jv_rows, jv_prows, jv_nreq)
            if jv_rows or jv_prows
            else None
        ),
        gates_sdf=(
            spark.createDataFrame(gpdf, "query_id string, fcol tinyint, term string")
            if len(gpdf)
            else None
        ),
        patterns_sdf=(
            spark.createDataFrame(
                ppdf,
                "query_id string, fcol tinyint, pattern string, "
                "pkind string, fz int, pfx string",
            )
            if len(ppdf)
            else None
        ),
        alldocs_sdf=_qid_df(spark, all_doc_qids) if all_doc_qids else None,
        needs_verify=bool(verify_ids),
        exact_sdf=exact_sdf,
        pythonic_sdf=pythonic_sdf,
        vid_sdf=vid_sdf,
        verify=verify,
        stats=stats,
    )


def _candidates(
    spark: SparkSession,
    view: _BatchView,
    plan: BatchPlan,
    batch_terms: DataFrame,
    term_dict: DataFrame | None,
) -> DataFrame:
    """Stage 4 (phase 1): candidate (doc_id, query_id) pairs via GATE groups.

    Joining every query term against the batch multiplies each (doc, term)
    row by |queries containing term| — 10^8 rows at 225k queries. Instead
    each query joins on ONE group: its most selective (lowest batch-df)
    necessary condition — the classic rarest-term gate. Candidate volume
    becomes sum_q df(gate_q); phase 2 settles the rest."""
    parts = []
    if plan.gates_sdf is not None:
        parts.append(batch_terms.join(F.broadcast(plan.gates_sdf), ["fcol", "term"]))
    if plan.patterns_sdf is not None:
        # pkind-dispatched multi-term expansion, all JVM-side: wildcard via
        # LIKE, regexp via RLIKE (pattern pre-anchored), fuzzy via
        # levenshtein + required-prefix (the reference's
        # automaton-over-index-terms family, WildcardTermsProducer:26-53 /
        # Lucene Fuzzy/RegexpQuery rewriting over the term dictionary)
        expanded = (
            term_dict.join(F.broadcast(plan.patterns_sdf), "fcol")
            .filter(
                ((F.col("pkind") == "like") & F.expr("term LIKE pattern"))
                | ((F.col("pkind") == "re") & F.expr("term RLIKE pattern"))
                | (
                    (F.col("pkind") == "fz")
                    & F.expr("startswith(term, pfx)")
                    & (F.levenshtein(F.col("term"), F.col("pattern"))
                       <= F.col("fz"))
                )
            )
            .select("query_id", "fcol", "term")
        )
        parts.append(batch_terms.join(F.broadcast(expanded), ["fcol", "term"]))
    if plan.alldocs_sdf is not None:
        parts.append(view.batch.select("doc_id").crossJoin(plan.alldocs_sdf))

    # GLOBAL candidate dedup: measured strictly best. A same-window A/B
    # against per-part / no dedup (duplicates folded into the verify
    # groupBy's collect_set) showed the early dedup SHRINKING the stream
    # before every downstream shuffle wins at every level — equal at
    # local[8], ~25% faster at local[2] and ~10% at local[32]/1M docs
    # (wildcard expansion emits one row per matched dictionary term per
    # doc, an unbounded multiplier). The no-dedup variant only "improved"
    # N->4N efficiency by making the small configuration slower.
    if not parts:
        return spark.createDataFrame([], f"doc_id {view.id_t}, query_id string")
    candidates = parts[0].select("doc_id", "query_id")
    for p in parts[1:]:
        candidates = candidates.unionByName(p.select("doc_id", "query_id"))
    return candidates.dropDuplicates(["doc_id", "query_id"])


def _python_verify(
    spark: SparkSession,
    view: _BatchView,
    plan: BatchPlan,
    candidates: DataFrame,
) -> tuple[DataFrame, Accumulator]:
    """Stage 5 (phase 2): exact verify of the pythonic queries' candidates
    by the shared verify UDF (operators/verify.py) — per candidate ONE dict
    dispatch + a compiled predicate (or the simple-MUST set-containment
    lane), with doc-grouped token views. Positional queries (spans, sloppy
    phrases, positional nested) always verify here — the same boundary the
    reference draws ("positional queries are magnitudes slower",
    README.md:127-133).

    Plans ship ONCE per executor via the registry's verify broadcast (a
    superset of pythonic — only candidate vids are ever looked up), so its
    multi-second pickle is paid once per registry, not once per batch.
    Returns the matches and this batch's verify-error accumulator."""
    # group candidates per doc: tokens ship ONCE per doc (not once per
    # (doc, query) pair — a ~|queries|x blowup at dense candidate sets),
    # and the token list/set conversions amortize over all its queries.
    # fieldmap views (one per tokens column) are built once per doc and
    # shared by every query field resolving to that column.
    tok_cols = sorted(set(view.resolve.values()))
    verify_doc, errors = verify_udf(
        spark,
        plan.verify,
        {qf: tok_cols.index(tc) for qf, tc in view.resolve.items()},
        {i for i, tc in enumerate(tok_cols) if tc in view.nested_cols},
        {i for i, tc in enumerate(tok_cols) if tc in view.scalar_cols},
    )
    cand_py = (
        candidates
        if plan.pythonic_sdf is None
        else candidates.join(F.broadcast(plan.pythonic_sdf), "query_id", "left_semi")
    )
    # map candidates to integer vids JVM-side (inner join: a candidate
    # qid outside the verify broadcast could never match — same outcome
    # the python lane's missing-plan lookup produced, minus the python)
    cand_py = cand_py.join(F.broadcast(plan.vid_sdf), "query_id")
    # collect_SET (not list): defensive dedup inside the shuffle this
    # groupBy already pays, so phase-2 never double-verifies a pair
    to_verify = (
        cand_py.groupBy("doc_id")
        .agg(F.collect_set("vid").alias("vids"))
        .join(view.batch.select("doc_id", *tok_cols), "doc_id")
    )
    hit_vids = to_verify.select(
        "doc_id",
        F.explode(
            verify_doc(F.col("vids"), *[F.col(tc) for tc in tok_cols])
        ).alias("vid"),
    )
    # hit vids (small) map back through the same broadcast DataFrame
    # (the exchange is reused within the action)
    matches = hit_vids.join(F.broadcast(plan.vid_sdf), "vid").select(
        "doc_id", "query_id"
    )
    return matches, errors


def _jv_tables(
    spark: SparkSession, jv_rows: list, jv_prows: list, jv_nreq: list
) -> tuple:
    """Broadcast tables of the join-verify lane: (need, qmask, qmap, pat,
    patq). Every atom of a query owns one bit of a 64-bit mask; query ids
    are dictionary-encoded as int qidx (qmap restores the names)."""
    qidx = {q: i for i, q in enumerate(sorted(q for q, _ in jv_nreq))}
    # per-query bit assignment: static rows first, then pattern
    # atoms, in list order (per-query contiguous by construction)
    bit_ctr: dict[str, int] = {}

    def _next_bit(q: str) -> int:
        b = bit_ctr.get(q, 0)
        bit_ctr[q] = b + 1
        return b

    req_mask: dict[str, int] = {q: 0 for q, _ in jv_nreq}
    static_rows = []
    for q, fc, t, req in jv_rows:
        b = 1 << _next_bit(q)
        if req:
            req_mask[q] |= b
        static_rows.append((qidx[q], fc, t, b if req else 0, 0 if req else b))
    prow_bits = []
    for q, fc, n, pre, lk, suf, req in jv_prows:
        b = 1 << _next_bit(q)
        if req:
            req_mask[q] |= b
        prow_bits.append(b)
    if static_rows:
        jpdf = pd.DataFrame(
            static_rows, columns=["qidx", "fcol", "term", "rbit", "fbit"]
        ).astype({"qidx": "int32", "fcol": "int16", "rbit": "int64", "fbit": "int64"})
        need_sdf = spark.createDataFrame(
            jpdf,
            "qidx int, fcol smallint, term string, rbit long, fbit long",
        )
    else:
        need_sdf = None
    mpdf = pd.DataFrame(
        [(qidx[q], req_mask[q]) for q, _ in jv_nreq], columns=["qidx", "req_mask"]
    ).astype({"qidx": "int32", "req_mask": "int64"})
    qmask_sdf = spark.createDataFrame(mpdf, "qidx int, req_mask long")
    qmap_pdf = pd.DataFrame(
        sorted((i, q) for q, i in qidx.items()), columns=["qidx", "query_id"]
    ).astype({"qidx": "int32"})
    qmap_sdf = spark.createDataFrame(qmap_pdf, "qidx int, query_id string")
    if not jv_prows:
        return need_sdf, qmask_sdf, qmap_sdf, None, None
    # two driver tables: DISTINCT patterns (expanded against the
    # dictionary once each, however many queries share them) and the
    # per-(query, atom-bit) fan-out joined after
    pats = sorted({(fc, n, pre, lk, suf) for _, fc, n, pre, lk, suf, _ in jv_prows})
    pid_of = {p: i for i, p in enumerate(pats)}
    ppdf = pd.DataFrame(
        [(i, *p) for i, p in enumerate(pats)],
        columns=["pid", "fcol", "n", "prefix", "like_pat", "suffix"],
    ).astype({"pid": "int32", "fcol": "int8", "n": "int32"})
    pat_sdf = spark.createDataFrame(
        ppdf,
        "pid int, fcol tinyint, n int, prefix string, "
        "like_pat string, suffix string",
    )
    pqdf = pd.DataFrame(
        [
            (
                pid_of[(fc, n, pre, lk, suf)],
                qidx[q],
                b if req else 0,
                0 if req else b,
            )
            for b, (q, fc, n, pre, lk, suf, req) in zip(prow_bits, jv_prows)
        ],
        columns=["pid", "qidx", "rbit", "fbit"],
    ).astype({"pid": "int32", "qidx": "int32", "rbit": "int64", "fbit": "int64"})
    patq_sdf = spark.createDataFrame(pqdf, "pid int, qidx int, rbit long, fbit long")
    return need_sdf, qmask_sdf, qmap_sdf, pat_sdf, patq_sdf


def _join_verify(
    view: _BatchView,
    plan: BatchPlan,
    batch_terms: DataFrame,
    term_dict: DataFrame | None,
) -> DataFrame:
    """Stage 6: the join-verify lane, Catalyst-only exact verification.

    One broadcast hash join (no shuffle of batch_terms) + ONE bitmask
    aggregate. Every atom of a query owns one bit of a 64-bit mask
    (_jv_structs guards atom count <= 63): a hit row carries (rbit, fbit)
    = its atom's bit in the required/forbidden mask, and groupBy(doc,
    qidx).bit_or collapses ANY number of duplicate hits — repeated grams,
    multiple dictionary expansions of one wildcard atom — without the
    per-atom dropDuplicates exchanges the count formulation needed (two
    shuffles gone; OR is idempotent where COUNT is not). Match ⇔
    bit_or(rbit) == req_mask AND bit_or(fbit) == 0. Docs with no overlap
    form no group — correctly absent since every jv query here requires at
    least one atom. query ids ship through the aggregate's exchange
    DICTIONARY-ENCODED (int qidx, not the string id) — that exchange is
    the lane's dominant byte volume at scale; names are restored by a
    broadcast join after the mask filter."""
    batch, used_tok_cols, col_idx = view.batch, view.used_tok_cols, view.col_idx
    need_sdf, qmask_sdf, qmap_sdf, pat_sdf, patq_sdf = plan.jv_tables
    jv_rows, jv_prows = plan.jv_rows, plan.jv_prows

    # leading-word prune sets per (tc, n), SEPARATE for the static and
    # the pattern-expansion gram joins (each stream only feeds its own
    # join): a generated gram can only join if its first token is one
    # of that join's need atoms' first words. A wildcard-phrase whose
    # pattern IS the first position disables the prune for its stream
    # (None = unfiltered), as does an oversized word set.
    fw_static: dict[tuple[str, int], set | None] = {}
    fw_pat: dict[tuple[str, int], set | None] = {}

    def _fw_add(m, tc, n, word):
        if m.get((tc, n), ()) is None:
            return
        if word is None:
            m[(tc, n)] = None
        else:
            m.setdefault((tc, n), set()).add(word)

    for _q, fce, term, _req in jv_rows:
        if fce >= _GRAM_FCOL_OFF:
            gn = fce // _GRAM_FCOL_OFF + 1
            _fw_add(fw_static, used_tok_cols[fce % _GRAM_FCOL_OFF], gn,
                    term.split(" ")[0])
    for _q, fc, gn, prefix, _lk, _suf, _req in jv_prows:
        if gn > 1:
            _fw_add(fw_pat, used_tok_cols[fc], gn,
                    prefix.split(" ")[0] if prefix else None)
    for m in (fw_static, fw_pat):
        for key, v in m.items():
            if v is not None and len(v) > 2000:
                m[key] = None

    def _gram_union(cols, fw):
        streams = [
            _ngram_stream(
                batch, tc, col_idx[tc] + _GRAM_FCOL_OFF * (n - 1), n,
                first_words=fw.get((tc, n)),
            )
            for tc, n in sorted(cols)
        ]
        gs = streams[0]
        for p in streams[1:]:
            gs = gs.unionByName(p)
        return gs

    bt_sm = batch_terms.withColumn("fcol", F.col("fcol").cast("smallint"))
    hit_parts: list[DataFrame] = []
    if need_sdf is not None:
        hit_parts.append(
            bt_sm.join(F.broadcast(need_sdf), ["fcol", "term"]).select(
                "doc_id", "qidx", "rbit", "fbit"
            )
        )
        if plan.jv_gram_cols:
            # static n-gram streams: contiguous n-grams of each
            # referenced (column, n) under the offset fcol space.
            # Repeated grams in one doc OR into the same bit — no
            # dedup exchange.
            bhits = _gram_union(plan.jv_gram_cols, fw_static).join(
                F.broadcast(need_sdf), ["fcol", "term"]
            )
            hit_parts.append(bhits.select("doc_id", "qidx", "rbit", "fbit"))
    if pat_sdf is not None:
        # wildcard need expansion: each DISTINCT pattern × the batch
        # term dictionary (the reference's automaton-over-index-terms,
        # WildcardTermsProducer.getTerms:26-53) → concrete (fcol_eff,
        # gram) need rows, fanned out per (query, atom-bit). A doc
        # satisfies the atom if ANY expansion hits — every expansion
        # carries the SAME bit, so bit_or IS the any-of semantics.
        expanded = (
            term_dict.join(F.broadcast(pat_sdf), "fcol")
            .filter(F.expr("term LIKE like_pat"))
            .select(
                "pid",
                (
                    F.col("fcol").cast("int")
                    + F.lit(_GRAM_FCOL_OFF) * (F.col("n") - 1)
                ).cast("smallint").alias("fcol"),
                F.concat("prefix", "term", "suffix").alias("term"),
            )
        )
        need_pat = expanded.join(F.broadcast(patq_sdf), "pid").select(
            "fcol", "term", "qidx", "rbit", "fbit"
        )
        pat_gram_cols = {
            (used_tok_cols[fc], n)
            for _, fc, n, _, _, _, _ in jv_prows
            if n > 1
        }
        pstreams = [bt_sm] if any(
            n == 1 for _, _, n, _, _, _, _ in jv_prows
        ) else []
        if pat_gram_cols:
            pstreams.append(_gram_union(pat_gram_cols, fw_pat))
        pstream = pstreams[0]
        for p in pstreams[1:]:
            pstream = pstream.unionByName(p)
        whits = pstream.join(F.broadcast(need_pat), ["fcol", "term"]).select(
            "doc_id", "qidx", "rbit", "fbit"
        )
        hit_parts.append(whits)
    jv_hits = hit_parts[0]
    for p in hit_parts[1:]:
        jv_hits = jv_hits.unionByName(p)
    jv_agg = jv_hits.groupBy("doc_id", "qidx").agg(
        F.expr("bit_or(rbit)").alias("req_bits"),
        F.expr("bit_or(fbit)").alias("forbid_bits"),
    )
    return (
        jv_agg.join(F.broadcast(qmask_sdf), "qidx")
        .filter(
            (F.col("req_bits") == F.col("req_mask"))
            & (F.col("forbid_bits") == 0)
        )
        .join(F.broadcast(qmap_sdf), "qidx")
        .select("doc_id", "query_id")
    )


def percolate(
    spark: SparkSession,
    docs: DataFrame,
    registry: CompiledRegistry,
    content_col: str = "content",
    id_col: str = "doc_id",
    tokenizer=None,
    fields: dict | str | None = None,
) -> PercolateResult:
    """Match every registered query against every doc of the batch.

    ``fields=None`` — single-field mode: one analyzed ``content_col`` serves
    every query field name (the flat-corpus default).
    ``fields={qfield: src_col | (src_col, analyzer)}`` — multi-field mode
    with per-field analyzers (A1); ``analyzer`` ∈ {"ws", "code"} or a
    Column-function. Queries on unconfigured fields never match (treated as
    empty fields), isolated per query.
    ``fields="auto"`` — infer the map from query fields ∩ batch columns
    with dtype-derived analyzers (``auto_fields``; the reference's
    documentMapperWithAutoCreate, BatchPercolatorService.java:314).
    """
    if fields == "auto":
        fields = auto_fields(registry, docs)
    view = _batch_view(docs, registry, content_col, id_col, tokenizer, fields)
    cached_frames: list[DataFrame] = []

    # join-verify structures are needed BEFORE batch_terms: their probe
    # words and expansion patterns are part of the pre-explode prune
    # closure (derived per registry version + layout, so no repeated cost)
    jv_mode = _JV_MODE
    jv, bt_prune = _layout_state(registry, view, jv_mode)
    batch_terms = _batch_terms(spark, view, bt_prune, cached_frames)
    # derived under the layout state's key (jv and bt_prune are functions
    # of it)
    plan = registry.derived(
        "batch_plan",
        (view.layout, jv_mode),
        lambda _token, prev: _batch_plan(
            spark, registry, view, jv_mode, jv, bt_prune, batch_terms,
            prev.stats if prev is not None else None,
        ),
    )
    # the distinct (fcol, term) batch dictionary feeds BOTH wildcard
    # expansions (gate patterns of non-jv queries AND the jv lane's
    # "w"/"wg" need expansion) — persisted when both lanes consume it so
    # the dedup shuffle isn't paid twice
    term_dict = None
    if plan.patterns_sdf is not None or plan.jv_prows:
        term_dict = batch_terms.select("fcol", "term").dropDuplicates(
            ["fcol", "term"]
        )
        if plan.patterns_sdf is not None and plan.jv_prows:
            term_dict = term_dict.persist()
            cached_frames.append(term_dict)
    candidates = _candidates(spark, view, plan, batch_terms, term_dict)

    if not plan.needs_verify:
        parts = [candidates]
    elif plan.exact_sdf is None:
        parts = []
    else:
        parts = [
            candidates.join(F.broadcast(plan.exact_sdf), "query_id", "left_semi")
        ]
    errors = None
    if plan.vid_sdf is not None:
        verified, errors = _python_verify(spark, view, plan, candidates)
        parts.append(verified)
    if plan.jv_tables is not None:
        parts.append(_join_verify(view, plan, batch_terms, term_dict))
    if not parts:
        parts = [spark.createDataFrame([], f"doc_id {view.id_t}, query_id string")]
    matches = parts[0]
    for p in parts[1:]:
        matches = matches.unionByName(p)
    return PercolateResult(
        matches=matches,
        docs=view.batch,
        resolve=view.resolve,
        content_of=view.content_of,
        analyzer_names=view.analyzer_names,
        cached=cached_frames,
        _errors=errors,
    )

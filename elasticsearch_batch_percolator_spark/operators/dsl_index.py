"""The index query engine: BM25 top-k and exact matching over the persisted
index.

All three index operators run through this module's one per-segment pass:
``dsl_topk_from_index`` (any registrable DSL query, here),
``topk_from_index`` (term lists, operators/wand.py) and
``phrase_docs_from_index`` (one phrase, operators/phrase_index.py). Each
front end compiles its queries to per-query specs (``_Spec``); the engine
answers every spec the same way, the reference's two-phase split
(LimitingFilterFactory, README.md:127-133):

retrieve  the query's limiting filter (plans/limiting.py) flattens to
          conjunctive term-groups; candidates are docs satisfying >=1 term
          of EVERY group, computed per segment from the decoded posting
          lists (numpy set ops, no doc store touched). A query with one
          group, no verify plan and exactly that group's terms to score
          skips this step: its candidates are the union the scorer builds.
verify    candidates of inexact plans re-evaluate EXACTLY against a
          pseudo-document reconstructed from the query vocabulary's
          positional postings: every literal the (expanded) plan can
          reference is in the vocabulary, so placing those terms at their
          indexed positions reproduces precisely the token view the
          evaluator needs — phrases, slop, spans, msm and must_not all run
          through the same plans/eval_py evaluator the percolator uses.
          Positions are read only for the terms a positional plan reads,
          and the scan selects the ``tfs`` and ``positions`` columns only
          when some query is positional.
score     BM25 over the precomputed norms with weight = multiplier x idf
          per scoring occurrence (qtf x path boost for DSL plans,
          plans/query_plan.positive_term_weights) — identical weighting to
          the join scorer, so results are rank-identical to the in-memory
          engine on the same corpus.

Multi-term atoms (wildcard / fuzzy / regexp) expand against the persisted
term dictionary with predicate-pushdown scans (LIKE / levenshtein threshold
/ rlike evaluate JVM-side in the parquet scan; only matching dictionary
rows are collected — the reference's automaton walk over the index terms,
WildcardTermsProducer.java:26-53). Expansion happens BEFORE planning, so
gates, verification and scoring all see literal terms only.

Execution shape (the 100 TB question): ONE dictionary lookup per batch
(``_lookup``: one ``term_stats`` scan on ``term IN (literals) OR <atom
predicates>`` yields both the expansions and every scoring term's df),
then ONE postings scan covers every query's vocabulary
(``PushedFilters: In(term, ...)``), segments verify and score
independently in parallel (applyInPandas over groupBy(segment_id)), the
driver never sees a posting, and the only data movement is the
(n_segments x k) local-top-k rows into the final window — the same merge
the reference does across shards (TransportBatchPercolateAction:94-143).
Both reads declare their schema, so neither runs a schema-inference job.
Python evaluation touches only gate-surviving candidates, the same
boundary the reference draws for its phase 2.

Out of scope by design (documented): queries needing the DOC STORE rather
than the token index — numeric range / exists / ids / nested block join /
top-level match_all — raise ``UnsupportedIndexQuery``; they remain served
by the batch surfaces (operators/search.py, operators/percolate.py).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.build import (
    IndexManifest,
    in_collection,
    read_manifest,
    read_postings,
    term_stats_table,
)
from ..index.codec import decode_docs
from ..plans.compiler import DEFAULT_FIELD, compile_query
from ..plans.eval_py import eval_plan, fuzzy_pred, regexp_regex, wildcard_regex
from ..plans.limiting import limiting_filter
from ..plans.query_plan import (
    Bool,
    Exists,
    Fuzzy,
    Ids,
    MatchNone,
    Nested,
    Phrase,
    Plan,
    Range,
    Regexp,
    SpanFirst,
    SpanNear,
    SpanNot,
    SpanOr,
    SpanTerm,
    Term,
    Wildcard,
    WildcardPhrase,
    fields_of,
    positive_term_weights,
)
from ..sources.registry import _flatten_groups, _needs_verify
from .match import wildcard_to_like


class UnsupportedIndexQuery(ValueError):
    """Plan needs the doc store (range/exists/ids/nested/match_all) or has
    no positive token constraint — not answerable from the inverted index."""


#: token placed at positions the reconstruction cannot attribute to a
#: vocabulary term; after multi-term expansion every atom is a LITERAL
#: comparison, which this can never satisfy ("\\x00" is not analyzer-
#: producible)
_HOLE = "\x00"
_NEVER = "\x00never"  # literal for an empty span-context expansion


def _idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _round_half_up(x, round_to: int | None):
    """HALF_UP rounding for non-negative scores (array or scalar) —
    bit-identical to Spark's F.round / DuckDB round, unlike np.round
    (banker's)."""
    if round_to is None:
        return x
    m = 10.0**round_to
    return np.floor(x * m + 0.5) / m


def _manifest(index_dir: str) -> IndexManifest:
    manifest = read_manifest(index_dir)
    if manifest is None:
        raise FileNotFoundError(f"no index at {index_dir}: manifest.json is missing")
    return manifest


def _decode_term(row, positions: bool = False):
    """One term's posting row → (doc_ids, norms, positions), doc ids through
    ``codec.decode_docs``. ``tfs`` and ``positions`` are read only when
    ``positions`` is asked for; then ``positions`` is ``(flat, offsets)``
    and doc i's positions are ``flat[offsets[i]:offsets[i + 1]]``, else it
    is None."""
    if positions and row["positions"] is None:
        raise ValueError("positional query but index was built without positions=True")
    ids = decode_docs(row["docs"], [row["df"]])
    norms = np.asarray(row["norms"], dtype=np.float64)
    if not positions:
        return ids, norms, None
    offsets = np.concatenate([[0], np.cumsum(row["tfs"], dtype=np.int64)])
    return ids, norms, (np.asarray(row["positions"]), offsets)


@dataclass
class _Spec:
    """One query as the per-segment pass runs it.

    groups  conjunctive gates: a match holds >=1 term of every group
    occ     scoring occurrences (term, multiplier); weight = multiplier * idf
    plan    exact verify plan over the reconstructed token view, or None
            when the gates are exact; ``fields`` are the doc-view fields it
            reads

    Derived: ``lits`` (the literals verify places in the view),
    ``positional`` (verify reads positions) and ``gated`` (False for one
    group, no plan and exactly that group's terms to score: the candidates
    are then the union the scorer builds, and the candidate step is
    skipped).
    """

    groups: list[list[str]]
    occ: list[tuple[str, float]]
    plan: Plan | None = None
    fields: tuple[str, ...] = ()
    lits: list[str] = field(init=False, repr=False)
    positional: bool = field(init=False, repr=False)
    gated: bool = field(init=False, repr=False)

    def __post_init__(self):
        lits: set = set()
        if self.plan is not None:
            _literal_terms(self.plan, lits)
            lits.discard(_NEVER)
        self.lits = sorted(lits)
        self.positional = self.plan is not None and _needs_positions(self.plan)
        self.gated = (
            self.plan is not None
            or len(self.groups) != 1
            or set(self.groups[0]) != {t for t, _ in self.occ}
        )


def _find(docs: np.ndarray, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each candidate's index in the sorted ``docs``, and whether it is there."""
    i = np.minimum(np.searchsorted(docs, cand), len(docs) - 1)
    return i, docs[i] == cand


def _candidates(groups: list[list[str]], get) -> np.ndarray:
    """Docs holding >=1 term of every group (sorted, unique)."""
    cand = None
    for g in groups:
        docs = [d[0] for d in map(get, g) if d is not None]
        u = np.unique(np.concatenate(docs)) if docs else np.empty(0, np.int64)
        cand = u if cand is None else np.intersect1d(cand, u, assume_unique=True)
        if cand.size == 0:
            break
    return cand


def _verify(s: _Spec, cand: np.ndarray, get) -> np.ndarray:
    """The candidates whose reconstructed token view satisfies the plan:
    each vocabulary literal at its indexed positions (``_HOLE`` elsewhere),
    or, for a non-positional plan, the bag of literals the doc holds."""
    hits = []
    for t in s.lits:
        d = get(t)
        if d is None:
            continue
        i, hit = _find(d[0], cand)
        hits.append((t, np.where(hit, i, -1).tolist(), d[2]))
    keep = []
    for j, doc in enumerate(cand.tolist()):
        if s.positional:
            slots = [
                (p, t)
                for t, idx, (flat, off) in hits
                if (i := idx[j]) >= 0
                for p in flat[off[i] : off[i + 1]].tolist()
            ]
            if not slots:
                continue
            toks = [_HOLE] * (max(p for p, _ in slots) + 1)
            for p, t in slots:
                toks[p] = t
        else:
            toks = [t for t, idx, _ in hits if idx[j] >= 0]
        if eval_plan(s.plan, dict.fromkeys(s.fields, toks)):
            keep.append(doc)
    return np.asarray(keep, dtype=np.int64)


def _local_cut(docs: np.ndarray, scores: np.ndarray, k: int, round_to: int | None):
    """Indices of the local top-k on (ROUNDED score desc, doc_id asc) — the
    total order the global merge ranks on, so the local cut can never drop
    a doc that would have tied after rounding and won on doc_id."""
    scores_r = _round_half_up(scores, round_to)
    cand = np.arange(len(docs))
    if len(docs) > k:
        kth = scores_r[np.argpartition(-scores_r, k - 1)[k - 1]]
        cand = np.flatnonzero(scores_r >= kth)
    return cand[np.lexsort((docs[cand], -scores_r[cand]))[:k]]


def _segment_topk(
    by_term: dict[str, dict],
    specs: dict[str, _Spec],
    idfs: dict[str, float],
    k: int | None,
    round_to: int | None = None,
) -> list[tuple[str, int, float]]:
    """One segment, every query: retrieve → verify → score → local k-cut
    (``k=None`` keeps every match).

    Each term decodes once per segment and is shared by every query that
    reads it; scoring concatenates one weight x norm array per occurrence
    and sums per doc with a stable argsort + ``np.add.reduceat``."""
    pos_terms = {t for s in specs.values() if s.positional for t in s.lits}
    decoded: dict = {}

    def get(t: str):
        if t not in decoded:
            decoded[t] = _decode_term(by_term[t], t in pos_terms) if t in by_term else None
        return decoded[t]

    rows: list[tuple[str, int, float]] = []
    for qid, s in specs.items():
        parts = []
        if s.gated:
            cand = _candidates(s.groups, get)
            if cand.size and s.plan is not None:
                cand = _verify(s, cand, get)
            if not cand.size:
                continue
            # a zero occurrence of every candidate: a match that holds no
            # scoring term (e.g. filter-only) still scores 0.0
            parts.append((cand, np.zeros(len(cand))))
        for t, m in s.occ:
            d = get(t)
            if d is None:
                continue
            docs, norms = d[0], d[1]
            if s.gated:
                i, hit = _find(docs, cand)
                docs, norms = cand[hit], norms[i[hit]]
            parts.append((docs, m * idfs[t] * norms))
        if not parts:
            continue
        if len(parts) == 1:
            docs, scores = parts[0]
        else:
            docs = np.concatenate([p[0] for p in parts])
            scores = np.concatenate([p[1] for p in parts])
            order = np.argsort(docs, kind="stable")
            docs, scores = docs[order], scores[order]
            first = np.flatnonzero(np.diff(docs, prepend=docs[0] - 1))
            docs, scores = docs[first], np.add.reduceat(scores, first)
        if k is not None:
            keep = _local_cut(docs, scores, k, round_to)
            docs, scores = docs[keep], scores[keep]
        rows.extend((qid, d, sc) for d, sc in zip(docs.tolist(), scores.tolist()))
    return rows


def _run(
    spark: SparkSession,
    index_dir: str,
    n_docs: int,
    specs: dict[str, _Spec],
    dfs: dict[str, int],
    k: int | None,
    round_to: int | None,
) -> DataFrame:
    """Answer every spec in one pass over the index: ONE postings scan over
    the whole vocabulary, one applyInPandas over the segments, then (for
    top-k) the global merge — a window over the n_segments*k local
    survivors. ``dfs`` is the front end's dictionary lookup (``_lookup``);
    a scoring term it lacks has df 0. ``k=None`` returns every segment's
    (query_id, doc_id, score) rows. The scan reads ``tfs`` and
    ``positions`` only when some spec is positional."""
    scored = sorted({t for s in specs.values() for t, _ in s.occ})
    idfs = {t: _idf(n_docs, dfs.get(t, 0)) for t in scored}
    vocab = set(scored)
    for s in specs.values():
        vocab.update(s.lits)
        for g in s.groups:
            vocab.update(g)
    positional = any(s.positional for s in specs.values())
    postings = read_postings(spark, index_dir, sorted(vocab)).select(
        "segment_id", "term", "df", "docs", "norms",
        *(("tfs", "positions") if positional else ()),
    )

    def per_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        by_term = {r["term"]: r for r in pdf.to_dict("records")}
        rows = _segment_topk(by_term, specs, idfs, k, round_to)
        return pd.DataFrame(rows, columns=["query_id", "doc_id", "score"])

    local = postings.groupBy("segment_id").applyInPandas(
        per_segment, "query_id string, doc_id long, score double"
    )
    if k is None:
        return local
    rank_score = F.round("score", round_to) if round_to is not None else F.col("score")
    w = Window.partitionBy("query_id").orderBy(F.desc("score_r"), F.asc("doc_id"))
    return (
        local.withColumn("score_r", rank_score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_r", "score")
    )


def _term_plan(t: str) -> Plan:
    """A query-string term: a Lucene wildcard (``*``/``?``) or a literal."""
    if "*" in t or "?" in t:
        return Wildcard(DEFAULT_FIELD, t)
    return Term(DEFAULT_FIELD, t)


def _collect_multiterm(plan: Plan, out: dict) -> None:
    """Gather wildcard/fuzzy/regexp atoms keyed by their expansion params."""
    if isinstance(plan, Wildcard):
        out[("w", plan.pattern)] = plan
    elif isinstance(plan, Fuzzy):
        out[("f", plan.value, plan.fuzziness, plan.prefix_length)] = plan
    elif isinstance(plan, Regexp):
        out[("r", plan.pattern)] = plan
    elif isinstance(plan, Bool):
        for g in (plan.must, plan.should, plan.must_not, plan.filter):
            for c in g:
                _collect_multiterm(c, out)
    elif isinstance(plan, (SpanNear, SpanOr)):
        for c in plan.clauses:
            _collect_multiterm(c, out)
    elif isinstance(plan, SpanNot):
        _collect_multiterm(plan.include, out)
        _collect_multiterm(plan.exclude, out)
    elif isinstance(plan, SpanFirst):
        _collect_multiterm(plan.match, out)
    elif isinstance(plan, WildcardPhrase):
        for p in plan.producers:
            _collect_multiterm(p, out)


def _lookup(
    spark: SparkSession, index_dir: str, plans, literals: bool = True
) -> tuple[dict[tuple, list[str]], dict[str, int]]:
    """The batch's ONE dictionary scan: (each multi-term atom of ``plans``
    -> sorted matching dictionary terms, term -> df).

    ``term_stats`` is filtered on ``term IN (the plans' literals)`` OR-ed
    with every atom's predicate, pushed into the parquet scan; each row
    comes back with its df and a flag saying whether >=1 atom predicate
    held, and each atom confirms its own flagged matches driver-side (the
    per-atom split). The dictionary is the set of ALL corpus terms, so
    expansion is EXHAUSTIVE — replacing an atom by its expansion set is an
    exact rewrite — and the df map covers every literal and expansion term
    the plans can score; a term it lacks is in no document (df 0).
    ``literals=False`` (an unscored batch) looks up the atoms only.
    """
    atoms: dict = {}
    lits: set = set()
    for p in plans:
        _collect_multiterm(p, atoms)
        if literals:
            _literal_terms(p, lits)
    if not atoms and not lits:
        return {}, {}
    term = F.col("term")
    preds = []
    for key in atoms:
        if key[0] == "w":
            preds.append(term.like(wildcard_to_like(key[1])))
        elif key[0] == "f":
            _, v, fz, pl = key
            p = F.levenshtein(term, F.lit(v), fz) >= 0
            if pl:
                p = term.startswith(v[:pl]) & p
            preds.append(p)
        else:  # regexp
            preds.append(term.rlike("^(?:" + key[1] + ")$"))
    pattern = functools.reduce(lambda a, b: a | b, preds) if preds else F.lit(False)
    rows = (
        term_stats_table(spark, index_dir)
        .filter(in_collection(term, sorted(lits)) | pattern)
        .select("term", "df", pattern.alias("pattern"))
        .collect()
    )
    cand = [r["term"] for r in rows if r["pattern"]]
    out: dict[tuple, list[str]] = {}
    for key in atoms:
        if key[0] == "w":
            rx = wildcard_regex(key[1])
            out[key] = sorted(t for t in cand if rx.match(t))
        elif key[0] == "f":
            _, v, fz, pl = key
            pred = fuzzy_pred(v, fz, pl)
            out[key] = sorted(t for t in cand if pred(t))
        else:
            rx = regexp_regex(key[1])
            out[key] = sorted(t for t in cand if rx.fullmatch(t))
    return out, {r["term"]: int(r["df"]) for r in rows}


def _atom_key(plan: Plan) -> tuple:
    if isinstance(plan, Wildcard):
        return ("w", plan.pattern)
    if isinstance(plan, Fuzzy):
        return ("f", plan.value, plan.fuzziness, plan.prefix_length)
    return ("r", plan.pattern)


def _transform(plan: Plan, exp: dict, in_span: bool = False) -> Plan:
    """Literal-only rewrite: multi-term atoms become term-set alternatives
    (Bool should/msm=1, or SpanOr inside span contexts); WildcardPhrase
    becomes the equivalent in-order slop-0 SpanNear of per-slot SpanOrs.
    Doc-store plans raise UnsupportedIndexQuery."""
    if isinstance(plan, (Range, Exists, Ids, Nested)):
        raise UnsupportedIndexQuery(
            f"{type(plan).__name__} needs the doc store — serve it via the "
            "batch surfaces (search/percolate), not the inverted index"
        )
    if isinstance(plan, (Wildcard, Fuzzy, Regexp)):
        terms = exp.get(_atom_key(plan), [])
        f = plan.field
        if in_span:
            if not terms:
                return SpanTerm(f, _NEVER)
            if len(terms) == 1:
                return SpanTerm(f, terms[0])
            return SpanOr(tuple(SpanTerm(f, t) for t in terms))
        if not terms:
            return MatchNone()
        if len(terms) == 1:
            return Term(f, terms[0])
        return Bool(should=tuple(Term(f, t) for t in terms), msm=1)
    if isinstance(plan, WildcardPhrase):
        slots = tuple(_transform(p, exp, in_span=True) for p in plan.producers)
        slots = tuple(
            SpanTerm(s.field, s.value) if isinstance(s, Term) else s
            for s in slots
        )
        return SpanNear(slots, slop=0, in_order=True)
    if isinstance(plan, Bool):
        return Bool(
            must=tuple(_transform(c, exp) for c in plan.must),
            should=tuple(_transform(c, exp) for c in plan.should),
            must_not=tuple(_transform(c, exp) for c in plan.must_not),
            filter=tuple(_transform(c, exp) for c in plan.filter),
            msm=plan.msm,
            boost=plan.boost,
        )
    if isinstance(plan, (SpanNear, SpanOr)):
        return replace(
            plan, clauses=tuple(_transform(c, exp, in_span=True) for c in plan.clauses)
        )
    if isinstance(plan, SpanNot):
        return SpanNot(
            _transform(plan.include, exp, in_span=True),
            _transform(plan.exclude, exp, in_span=True),
        )
    if isinstance(plan, SpanFirst):
        return SpanFirst(_transform(plan.match, exp, in_span=True), plan.end)
    return plan  # Term / SpanTerm / Phrase / MatchAll / MatchNone


def _literal_terms(plan: Plan, out: set) -> None:
    """Every literal the plan can reference (incl. must_not — verification
    must SEE a negated term to exclude its docs). Multi-term atoms add
    nothing: after ``_transform`` they are literals themselves."""
    if isinstance(plan, (Term, SpanTerm)):
        out.add(plan.value)
    elif isinstance(plan, Phrase):
        out.update(plan.terms)
    elif isinstance(plan, WildcardPhrase):
        for p in plan.producers:
            _literal_terms(p, out)
    elif isinstance(plan, Bool):
        for g in (plan.must, plan.should, plan.must_not, plan.filter):
            for c in g:
                _literal_terms(c, out)
    elif isinstance(plan, (SpanNear, SpanOr)):
        for c in plan.clauses:
            _literal_terms(c, out)
    elif isinstance(plan, SpanNot):
        _literal_terms(plan.include, out)
        _literal_terms(plan.exclude, out)
    elif isinstance(plan, SpanFirst):
        _literal_terms(plan.match, out)


def _needs_positions(plan: Plan) -> bool:
    if isinstance(plan, Phrase):
        return len(plan.terms) > 1
    if isinstance(plan, (SpanNear, SpanOr, SpanNot, SpanFirst)):
        return True
    if isinstance(plan, Bool):
        return any(
            _needs_positions(c)
            for g in (plan.must, plan.should, plan.must_not, plan.filter)
            for c in g
        )
    return False


def _gate_groups(plan: Plan) -> list[list[str]]:
    """Conjunctive term-group gates of the TRANSFORMED (literal-only) plan:
    a matching doc holds >=1 term of every group."""
    approx = limiting_filter(plan)
    groups = _flatten_groups(approx) if approx is not None else None
    if not groups:
        raise UnsupportedIndexQuery(
            "query has no positive token constraint (pure negation / "
            "match_all): top-k retrieval from the index needs >=1 required "
            "term group"
        )
    return [sorted({v for _k, _f, v in g}) for g in groups]


def _dsl_specs(
    spark: SparkSession, index_dir: str, plans: dict[str, Plan], scored: bool = True
) -> tuple[dict[str, _Spec], dict[str, int]]:
    """(specs, term -> df) from one dictionary lookup: expand every
    multi-term atom, then compile each plan to its spec; a plan whose
    expansion matches nothing (e.g. a wildcard no index term fits) has no
    spec. ``scored=False`` builds specs with no scoring occurrences and
    skips the literals' df lookup."""
    exp, dfs = _lookup(spark, index_dir, plans.values(), literals=scored)
    specs: dict[str, _Spec] = {}
    for qid, p in plans.items():
        pt = _transform(p, exp)
        if isinstance(pt, MatchNone):
            continue
        w: dict[str, float] = {}
        if scored:
            for (_f, t), wt in positive_term_weights(pt).items():
                w[t] = w.get(t, 0.0) + wt
        specs[qid] = _Spec(
            _gate_groups(pt),
            list(w.items()),
            plan=pt if _needs_verify(pt) else None,
            fields=tuple(sorted(fields_of(pt))) or (DEFAULT_FIELD,),
        )
    return specs, dfs


def dsl_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, dict | str | Plan],
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """(query_id, rank, doc_id, score_r, score) — BM25 top-k of arbitrary
    registrable DSL queries answered entirely from the persisted index.

    Rank-identical to the in-memory engine (search over Engine docs) on the
    same corpus: same match semantics (plans/eval_py), same weight map
    (positive_term_weights), same deterministic merge (rounded score desc,
    doc_id asc).
    """
    n_docs = _manifest(index_dir).n_docs
    compiled = {
        qid: q if isinstance(q, Plan) else compile_query(q)
        for qid, q in queries.items()
    }
    specs, dfs = _dsl_specs(spark, index_dir, compiled)
    return _run(spark, index_dir, n_docs, specs, dfs, k, round_to)

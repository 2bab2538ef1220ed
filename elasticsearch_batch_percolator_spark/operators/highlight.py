"""Highlighting: per-field fragment maps for matched (query, doc) pairs.

The reference re-runs ES's highlight phase per matched (query, doc)
(BatchPercolatorService.java:420-448, per-hit execution
YPercolatorService.java:446-468) with forced source highlighting; each
registered query carries its OWN highlight spec (fields, pre/post tags,
requireFieldMatch, highlightQuery override — APITests.java:63-90), and the
response exposes ``highlights: {field: [fragment, ...]}`` with goldens
``"the <b>fox</b> is here"`` / ``"<b>youscan</b> percolator"`` and an EMPTY
map for queries registered without a spec (APITests.java:132-139).

Engine-defined fragmenter (a deterministic approximation of Lucene's plain
highlighter, documented rather than bug-compatible):
- the field text is split into whitespace units (original casing kept);
- a unit matches if its lowercase form equals a highlight term / wildcard
  (for code-analyzed fields, if ANY code sub-token of the unit matches);
- text shorter than ``fragment_size`` chars → ONE fragment = the whole
  field (this reproduces the reference goldens);
- longer text → windows grown around each matched unit (right then left)
  up to ``fragment_size`` chars, overlapping windows merged, capped at
  ``number_of_fragments``;
- a field with no matching unit contributes no entry; a query with no
  spec gets an empty map.

One Arrow pandas UDF over matched pairs; specs/plans ship via a Spark
broadcast (compile once per executor, not per task).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.eval_py import wildcard_regex
from ..plans.query_plan import Plan, Wildcard, positive_terms
from ..sources.registry import CompiledRegistry

_CODE_SPLIT = re.compile(r"[^a-z0-9_]+")


@dataclass(frozen=True)
class HighlightSpec:
    """Per-query highlight request (HighlightBuilder analog,
    APITests.java:66-84)."""

    fields: tuple[str, ...]
    pre_tag: str = "<b>"
    post_tag: str = "</b>"
    require_field_match: bool = True  # the ES 2.x default
    highlight_query: Plan | None = None  # None = the match query itself
    fragment_size: int = 100  # chars, the ES default
    number_of_fragments: int = 5
    order: str = "none"  # "score" = most-hits-first fragments (HighlightBuilder.order)

    @classmethod
    def from_dict(cls, d: dict) -> "HighlightSpec":
        from ..plans.compiler import compile_query

        fields = d.get("fields") or []
        if isinstance(fields, dict):  # ES shape: {"field1": {}, ...}
            fields = list(fields)
        hq = d.get("highlight_query")
        return cls(
            fields=tuple(fields),
            pre_tag=(d.get("pre_tags") or ["<b>"])[0]
            if "pre_tags" in d
            else d.get("pre_tag", "<b>"),
            post_tag=(d.get("post_tags") or ["</b>"])[0]
            if "post_tags" in d
            else d.get("post_tag", "</b>"),
            require_field_match=bool(d.get("require_field_match", True)),
            highlight_query=compile_query(hq) if hq else None,
            fragment_size=int(d.get("fragment_size", 100)),
            number_of_fragments=int(d.get("number_of_fragments", 5)),
            order=str(d.get("order", "none")),
        )


class _FuzzyMatcher:
    """``.match(token)`` shim so fuzzy atoms slot into the pattern list the
    unit matcher truth-tests (wildcard/regexp atoms are compiled regexes
    there). Picklable: broadcast inside highlight programs."""

    __slots__ = ("value", "fz", "pfx")

    def __init__(self, value: str, fz: int, pl: int):
        self.value = value
        self.fz = fz
        self.pfx = value[:pl]

    def match(self, tok: str) -> bool:
        from ..plans.eval_py import within_edits

        return tok.startswith(self.pfx) and within_edits(
            tok, self.value, self.fz
        )

    def __reduce__(self):
        return (_FuzzyMatcher, (self.value, self.fz, len(self.pfx)))


def _compile_matcher(kind: str, payload):
    """(kind, payload) pattern atom -> object with ``.match(token)``."""
    if kind == "w":
        return wildcard_regex(payload)
    if kind == "r":
        from ..plans.eval_py import regexp_regex

        return regexp_regex("^(?:" + payload + ")$")
    value, fz, pl = payload
    return _FuzzyMatcher(value, fz, pl)


def _wildcards_of(plan: Plan) -> set[tuple[str, str, object]]:
    """(field, kind, payload) multi-term atoms contributing positively:
    kind 'w' wildcard pattern, 'r' regexp pattern, 'f' fuzzy
    (value, fuzziness, prefix_length) — each highlights the tokens it
    matches, mirroring Lucene highlighting of MultiTermQuery expansions."""
    from ..plans.query_plan import (
        Bool,
        Fuzzy,
        Regexp,
        SpanFirst,
        SpanNear,
        SpanNot,
        SpanOr,
        WildcardPhrase,
    )

    if isinstance(plan, Wildcard):
        return {(plan.field, "w", plan.pattern)}
    if isinstance(plan, Regexp):
        return {(plan.field, "r", plan.pattern)}
    if isinstance(plan, Fuzzy):
        return {
            (plan.field, "f", (plan.value, plan.fuzziness, plan.prefix_length))
        }
    if isinstance(plan, WildcardPhrase):
        return {
            (p.field, "w", p.pattern)
            for p in plan.producers
            if isinstance(p, Wildcard)
        }
    if isinstance(plan, Bool):
        out: set[tuple[str, str, object]] = set()
        for g in (plan.must, plan.should, plan.filter):
            for c in g:
                out |= _wildcards_of(c)
        return out
    if isinstance(plan, (SpanNear, SpanOr)):
        out = set()
        for c in plan.clauses:
            out |= _wildcards_of(c)
        return out
    if isinstance(plan, SpanNot):
        return _wildcards_of(plan.include)
    if isinstance(plan, SpanFirst):
        return _wildcards_of(plan.match)
    return set()


def _unit_matcher(literals: set[str], patterns: list, analyzer: str):
    """unit (original casing) -> bool; analyzer-aware sub-token match."""

    def match(unit: str) -> bool:
        low = unit.lower()
        if low in literals or any(r.match(low) for r in patterns):
            return True
        if analyzer == "code":
            for sub in _CODE_SPLIT.split(low):
                if sub and (sub in literals or any(r.match(sub) for r in patterns)):
                    return True
        return False

    return match


def _fragments(
    text: str,
    match,
    pre: str,
    post: str,
    fragment_size: int,
    max_fragments: int,
    order: str = "none",
) -> list[str]:
    units = text.split(" ")
    hits = [i for i, u in enumerate(units) if u and match(u)]
    if not hits:
        return []

    def render(lo: int, hi: int) -> str:
        out = []
        for i in range(lo, hi + 1):
            u = units[i]
            out.append(f"{pre}{u}{post}" if u and match(u) else u)
        return " ".join(out)

    if len(text) <= fragment_size:
        return [render(0, len(units) - 1)]

    # window growth: right first, then left, until fragment_size chars
    windows: list[tuple[int, int]] = []
    for h in hits:
        if windows and h <= windows[-1][1]:
            continue  # already covered
        lo = hi = h
        size = len(units[h])
        while hi + 1 < len(units) and size + 1 + len(units[hi + 1]) <= fragment_size:
            hi += 1
            size += 1 + len(units[hi])
        while lo - 1 >= 0 and size + 1 + len(units[lo - 1]) <= fragment_size:
            lo -= 1
            size += 1 + len(units[lo])
        if windows and lo <= windows[-1][1]:
            windows[-1] = (windows[-1][0], hi)  # merge overlap
        else:
            windows.append((lo, hi))
    if order == "score":
        # the reference's HighlightBuilder.order("score"): best fragments
        # first; engine-defined score = matched-unit count, position breaks
        hit_set = set(hits)
        windows.sort(
            key=lambda w: (-sum(1 for i in range(w[0], w[1] + 1) if i in hit_set), w[0])
        )
    return [render(lo, hi) for lo, hi in windows[:max_fragments]]


HIGHLIGHT_MAP_TYPE = T.MapType(T.StringType(), T.ArrayType(T.StringType()))


def highlight_map_col(
    registry: CompiledRegistry,
    query_id_col: Column,
    content_cols: dict[str, Column],
    analyzers: dict[str, str] | None = None,
) -> Column:
    """``map<field, array<fragment>>`` for a (query_id, *field contents) row.

    ``content_cols`` maps query field name → raw content Column (use
    ``PercolateResult.content_of`` after a percolate run). ``analyzers``
    maps field → "ws"|"code" for analyzer-aware unit matching.
    """
    analyzers = analyzers or {}
    field_order = sorted(content_cols)

    # programs ship ONCE per executor via a Spark broadcast (a 225k-query
    # registry's programs dict pickled into every task would dominate);
    # per-(query, field) unit matchers memoize worker-side. Both the
    # program build (a 10^5-query loop) and its broadcast are derived per
    # (app, registry version, field layout) — per-batch / streaming use
    # would otherwise accumulate one full-programs broadcast per
    # micro-batch on driver and executors.
    sc = SparkSession.getActiveSession().sparkContext

    def build(_token):
        # per-query highlight programs: field -> (literals, patterns) under
        # the spec's requireFieldMatch / highlightQuery rules, resolved ONCE
        programs: dict[str, dict] = {}
        for qid, cq in registry.queries.items():
            spec = getattr(cq, "highlight", None)
            if spec is None or not spec.fields:
                continue
            src_plan = spec.highlight_query or cq.plan
            lits = positive_terms(src_plan)
            wilds = _wildcards_of(src_plan)
            per_field = {}
            for f in spec.fields:
                if f not in content_cols:
                    continue
                if spec.require_field_match:
                    flits = {t for fld, t in lits if fld == f}
                    fpats = [(k, p) for fld, k, p in wilds if fld == f]
                else:
                    flits = {t for _, t in lits}
                    fpats = [(k, p) for _, k, p in wilds]
                if flits or fpats:
                    # matchers compile ONCE here (driver), not per row
                    per_field[f] = (
                        flits, [_compile_matcher(k, p) for k, p in fpats]
                    )
            programs[qid] = {
                "fields": per_field,
                "pre": spec.pre_tag,
                "post": spec.post_tag,
                "fsize": spec.fragment_size,
                "nfrag": spec.number_of_fragments,
                "order": spec.order,
            }
        return sc.broadcast(programs)

    bc_programs = registry.derived(
        "highlight_map",
        (sc.applicationId, tuple(field_order), tuple(sorted(analyzers.items()))),
        build,
    )
    an_by_field = {f: analyzers.get(f, "ws") for f in field_order}

    @F.pandas_udf(HIGHLIGHT_MAP_TYPE)
    def hl(qids: pd.Series, *contents: pd.Series) -> pd.Series:
        progs = bc_programs.value
        matchers: dict[tuple[str, str], object] = {}
        out = []
        for row in zip(qids, *contents):
            qid = row[0]
            prog = progs.get(qid)
            if not prog:
                out.append({})
                continue
            result = {}
            for fi, f in enumerate(field_order):
                if f not in prog["fields"]:
                    continue
                text = row[1 + fi]
                if not text:
                    continue
                matcher = matchers.get((qid, f))
                if matcher is None:
                    lits, pats = prog["fields"][f]
                    matcher = _unit_matcher(lits, pats, an_by_field[f])
                    matchers[(qid, f)] = matcher
                frags = _fragments(
                    text, matcher, prog["pre"], prog["post"],
                    prog["fsize"], prog["nfrag"], prog["order"],
                )
                if frags:
                    result[f] = frags
            out.append(result)
        return pd.Series(out)

    return hl(query_id_col, *[content_cols[f] for f in field_order])


def highlight_col(
    registry: CompiledRegistry,
    query_id_col: Column,
    content_col: Column,
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
) -> Column:
    """Single-field whole-text wrap (the flat-corpus convenience): every
    token matching any of the query's positive literal terms or wildcard
    patterns gets wrapped, whole doc returned. For the reference-shaped
    per-field fragment map use ``highlight_map_col``."""
    sc = SparkSession.getActiveSession().sparkContext
    # derived per registry version, like highlight_map_col's programs
    bc_terms = registry.derived(
        "highlight",
        (sc.applicationId,),
        lambda _token: sc.broadcast({
            qid: (
                {t for _, t in positive_terms(q.plan)},
                [_compile_matcher(k, p) for _, k, p in _wildcards_of(q.plan)],
            )
            for qid, q in registry.queries.items()
        }),
    )

    @F.pandas_udf(T.StringType())
    def hl(qids: pd.Series, contents: pd.Series) -> pd.Series:
        by_q = bc_terms.value
        out = []
        for qid, content in zip(qids, contents):
            literals, rxs = by_q.get(qid, (set(), []))
            toks = (content or "").split(" ")
            parts = []
            for tok in toks:
                low = tok.lower()
                if low in literals or any(r.match(low) for r in rxs):
                    parts.append(f"{pre_tag}{tok}{post_tag}")
                else:
                    parts.append(tok)
            out.append(" ".join(parts))
        return pd.Series(out)

    return hl(query_id_col, content_col)

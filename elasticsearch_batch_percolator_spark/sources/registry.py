"""Registered-query registry: parse once, approximate once, broadcast.

The reference stores queries as docs of reserved type ``~ypercolator`` and
keeps a per-shard in-memory map rebuilt on recovery
(BatchPercolatorQueriesRegistry.java:78,129-136,244-266); each query's
Lucene plan AND its limiting-filter approximation are computed once at
registration (parsePercolatorDocument:138-185,:157,176-177) and amortized
over every future batch.

Spark analog: a ``queries`` Parquet table (query_id, query_json) is the
durable store (S5/S6 — load_registry == the reference's recovery scan); the
compiled form lives on the driver and ships to executors inside pandas-UDF
closures / broadcast join inputs.

Phase-1 flattening: each query's approximation is reduced to AND-of-OR-groups
over (field, literal-term) and (field, wildcard-pattern) members — fields
are carried through so multi-field registries gate each query on the right
per-field posting stream:

    groups(Term f:t)      = [{(f, t)}]
    groups(Wildcard f:p)  = [{(f, p)}]
    groups(MatchAll)      = []              (no constraint)
    groups(Bool must=...) = concat of child groups; an unreducible child is
                            DROPPED (fewer constraints -> still a superset)
    groups(Bool should=.) = one group = union of one group per child (a doc
                            matching child_i satisfies every group of
                            child_i, so its first group suffices) — if any
                            child has no groups, the whole query is
                            UNFILTERABLE (candidate for every doc)
    must_not              = ignored for candidate generation (superset-sound)

Queries whose plan is a pure term conjunction/disjunction are fully decided
by phase 1 (``needs_verify=False``) — the common fast path; everything else
gets the exact phase-2 evaluator on surviving pairs only.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from itertools import count

from pyspark.sql import DataFrame, SparkSession

from ..plans.compiler import compile_query
from ..plans.limiting import limiting_filter
from ..plans.query_plan import (
    Bool,
    Exists,
    Fuzzy,
    Ids,
    MatchAll,
    MatchNone,
    Phrase,
    Plan,
    Range,
    Regexp,
    Term,
    Wildcard,
    WildcardPhrase,
)


# sentinel for "metadata not precomputed" (None is a meaningful value for
# simple_req / jv_req: "plan is not expressible in that lane")
_UNSET = "?"

_LOG = logging.getLogger(__name__)

# driver-process-unique sequence for verify-plan broadcasts. ``version``
# alone is NOT a safe worker-side cache key: it is per-registry (set to
# len(queries) on load, bumped on mutation), so two registries in one
# application routinely share a (app, version) pair and would collide in
# the workers' _WORKER_VERIFY_CACHE, silently evaluating batch B against
# registry A's plans. Each freshly built broadcast takes the next token.
_BC_SEQ = count(1)

# from_df(distributed="auto") compiles on executors only from this many
# rows up
_DIST_COMPILE_MIN = 20000


class CompiledQuery:
    """One registered query. Driver-registered queries hold live plan trees;
    distributed-compiled queries arrive BLOB-BACKED: ``plan``/``approx``
    stay pickled (exactly the bytes the verify broadcast ships) and every
    driver-needed decision (phase-1 groups, the simple term-conjunction
    requirement, the join-verify atoms, referenced fields) is precomputed
    on the executors — the driver of a 10^5-query registry never pays a
    plan-tree unpickle or re-pickle unless an operator genuinely needs the
    tree (highlight program build, windowed-stream spec)."""

    __slots__ = (
        "query_id", "_plan", "_approx", "groups", "needs_verify",
        "match_none", "highlight", "plan_blob", "approx_blob",
        "simple_req", "jv_req", "fields_fs",
    )

    def __init__(
        self,
        query_id: str,
        plan: Plan | None,
        approx: Plan | None,
        # phase-1 groups: list of OR-groups; each group is a set of
        # ("t", field, literal) / ("w", field, pattern) members.
        # None => unfilterable.
        groups: list[set[tuple[str, str]]] | None,
        needs_verify: bool,
        match_none: bool = False,
        # per-query highlight spec (HighlightBuilder analog,
        # APITests.java:63-90); None = registered without highlighting
        highlight: object | None = None,
        *,
        plan_blob: bytes | None = None,
        approx_blob: bytes | None = None,
        simple_req: object = _UNSET,
        jv_req: object = _UNSET,
        fields_fs: frozenset | None = None,
    ) -> None:
        self.query_id = query_id
        self._plan = plan
        self._approx = approx
        self.groups = groups
        self.needs_verify = needs_verify
        self.match_none = match_none
        self.highlight = highlight
        self.plan_blob = plan_blob
        self.approx_blob = approx_blob
        self.simple_req = simple_req
        self.jv_req = jv_req
        self.fields_fs = fields_fs

    @property
    def plan(self) -> Plan:
        if self._plan is None and self.plan_blob is not None:
            import pickle

            self._plan = pickle.loads(self.plan_blob)
        return self._plan

    @property
    def approx(self) -> Plan | None:
        if self._approx is None and self.approx_blob is not None:
            import pickle

            self._approx = pickle.loads(self.approx_blob)
        return self._approx

    def to_blob(self) -> "CompiledQuery":
        """Executor-side conversion to the blob-backed form (called inside
        the distributed ``from_df`` compile): pickle the trees once HERE and
        precompute everything the driver's batch planner reads."""
        import pickle

        from ..plans.query_plan import fields_of

        plan = self._plan
        return CompiledQuery(
            self.query_id, None, None, self.groups, self.needs_verify,
            self.match_none, self.highlight,
            plan_blob=pickle.dumps(plan),
            approx_blob=(
                pickle.dumps(self._approx) if self._approx is not None else None
            ),
            simple_req=_simple_required(plan),
            jv_req=_jv_requirements(plan),
            fields_fs=frozenset(fields_of(plan)),
        )

    def __reduce__(self):
        # positional factory call: ~5x faster to unpickle than the default
        # __getstate__ dict round-trip — the driver assembles a 225k-query
        # distributed registry from partition blobs in ~1s instead of ~7s
        return (
            _rebuild_cq,
            (
                self.query_id, self._plan, self._approx, self.groups,
                self.needs_verify, self.match_none, self.highlight,
                self.plan_blob, self.approx_blob, self.simple_req,
                self.jv_req, self.fields_fs,
            ),
        )

    def __repr__(self) -> str:  # compact: plans may be large trees
        return (
            f"CompiledQuery({self.query_id!r}, needs_verify={self.needs_verify}"
            f", match_none={self.match_none}"
            f", blob={self.plan_blob is not None})"
        )


def _rebuild_cq(
    query_id, plan, approx, groups, needs_verify, match_none, highlight,
    plan_blob, approx_blob, simple_req, jv_req, fields_fs,
):
    """Unpickle factory for CompiledQuery (see ``__reduce__``)."""
    return CompiledQuery(
        query_id, plan, approx, groups, needs_verify, match_none, highlight,
        plan_blob=plan_blob, approx_blob=approx_blob, simple_req=simple_req,
        jv_req=jv_req, fields_fs=fields_fs,
    )


@dataclass
class CompiledRegistry:
    queries: dict[str, CompiledQuery] = field(default_factory=dict)
    # mutation counter: invalidates the cached verify-plan broadcast
    version: int = 0

    def __len__(self) -> int:
        return len(self.queries)

    def broadcast_verify_plans(self, spark: SparkSession):
        """Spark broadcast of the phase-2 verify set, cached per
        (app, version); value = {"simple_cols": <columnar simple lane>,
        "plans": {qid: plan_blob}}.

        Pickling a 10^5-plan dict costs seconds; the registry outlives many
        percolation batches (the reference amortizes its registration-time
        parse the same way), so the broadcast is built once and reused until
        register/unregister bumps ``version``. Pure term-conjunctions — the
        bulk of a realistic registry — ship COLUMNAR: one qid list, int64
        offset arrays, an int32 field-index array and one utf-8 term buffer
        (``simple_cols``), NOT a dict of per-query tuples. At a 10^6-query
        registry the dict form unpickled ~8M small objects in EVERY python
        worker (~800MB resident x workers; under 32 concurrent workers the
        kernel-bound allocation measured ~110s/worker — BASELINE.md 1M
        study); the columnar form unpickles as a handful of buffer copies
        (~13x faster single-threaded, ~4x smaller resident) and workers
        decode only the qids that actually become candidates, memoized
        (percolate._sdecode)."""
        sc = spark.sparkContext
        key = (sc.applicationId, self.version)
        cached = getattr(self, "_bc_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        if cached is not None:
            # hot-swap (version bump) or new app: release the stale
            # broadcast's executor/driver storage instead of leaking one
            # full plan-blob broadcast per swap (the highlight/windowed
            # caches unpersist the same way). unpersist, NOT destroy: an
            # in-flight batch planned against the old broadcast may still
            # re-ship it from the driver on a task retry.
            try:
                cached[1].unpersist()
            except Exception:
                pass
        import gc
        import pickle

        import numpy as np

        s_qids: list[str] = []
        s_fields: dict[str, int] = {}
        need_f: list[int] = []
        need_t: list[str] = []
        need_off: list[int] = [0]
        forb_f: list[int] = []
        forb_t: list[str] = []
        forb_off: list[int] = [0]
        p_qids: list[str] = []
        p_blobs: list[bytes] = []
        # pause cyclic GC for the build: the container churn here triggers
        # gen2 collections that each scan the WHOLE driver heap — at a
        # 10^7-query registry (10^8-object heap) the build measured 56s vs
        # ~3s/1M-linear expectation, nearly all collector time. Nothing in
        # this loop creates cycles; the pause defers, never skips,
        # collection.
        _gc_was = gc.isenabled()
        gc.disable()
        try:
            for qid in self.gate_verify_ids():
                cq = self.queries[qid]
                req = (
                    cq.simple_req
                    if cq.simple_req is not _UNSET
                    else _simple_required(cq.plan)
                )
                if req is not None:
                    s_qids.append(qid)
                    for pairs, fs, ts in (
                        (req[0], need_f, need_t),
                        (req[1], forb_f, forb_t),
                    ):
                        for f, t in pairs:
                            fs.append(s_fields.setdefault(f, len(s_fields)))
                            ts.append(t)
                    need_off.append(len(need_t))
                    forb_off.append(len(forb_t))
                else:
                    # plans ship INDIVIDUALLY pickled: a plan that cannot
                    # unpickle on a worker (exotic class, bad state) fails only
                    # its own per-query lookup under the verify UDF's
                    # try/except, never the whole broadcast load (E10). A
                    # blob-backed query forwards its executor-pickled bytes
                    # untouched — the broadcast build is a dict assembly, not
                    # a 10^5-plan re-pickle.
                    p_qids.append(qid)
                    p_blobs.append(
                        cq.plan_blob
                        if cq.plan_blob is not None
                        else pickle.dumps(cq.plan)
                    )

            def _tbuf(terms: list[str]) -> tuple[bytes, "np.ndarray"]:
                # one utf-8 buffer + int64 byte offsets. ASCII fast path: one
                # join+encode; char offsets == byte offsets. Otherwise per-term
                # encode (byte lengths differ from char lengths).
                joined = "".join(terms)
                buf = joined.encode()
                if len(buf) == len(joined):
                    lens = np.fromiter(
                        (len(t) for t in terms), dtype=np.int64, count=len(terms)
                    )
                else:
                    enc = [t.encode() for t in terms]
                    buf = b"".join(enc)
                    lens = np.fromiter(
                        (len(e) for e in enc), dtype=np.int64, count=len(enc)
                    )
                off = np.zeros(len(terms) + 1, dtype=np.int64)
                np.cumsum(lens, out=off[1:])
                return buf, off

            nt_buf, nt_off = _tbuf(need_t)
            ft_buf, ft_off = _tbuf(forb_t)
            # qid lists deliberately stay OUT of the broadcast value: workers
            # never see query-id strings. The candidate pipeline maps
            # query_id -> vid (unified row id: simple rows first, then plan
            # rows) with a JVM broadcast join — ONE Tungsten hash table per
            # executor instead of a 10^6-entry python dict (and 1.4M string
            # allocations) in EVERY worker, which measured ~47s/worker under
            # 32-way concurrency. verify_qid_spaces() exposes the lists
            # driver-side for the vid-map build.
            simple_cols = {
                "fields": list(s_fields),
                "need_off": np.asarray(need_off, dtype=np.int64),
                "need_f": np.asarray(need_f, dtype=np.int32),
                "need_t": nt_buf,
                "need_t_off": nt_off,
                "forb_off": np.asarray(forb_off, dtype=np.int64),
                "forb_f": np.asarray(forb_f, dtype=np.int32),
                "forb_t": ft_buf,
                "forb_t_off": ft_off,
            }
            # plan blobs ship columnar too — ONE buffer + offsets, not a
            # {qid: bytes} dict: 10^5-10^6 bytes objects unpickling in every
            # worker measured ~68s/worker under 32-way concurrency; a buffer
            # is one copy, and a worker slices out only the blobs whose qids
            # actually become candidates (percolate._pred). Per-query unpickle
            # isolation is preserved: a corrupt blob still fails only its own
            # pickle.loads under the verify UDF's per-query try (E10).
            p_off = np.zeros(len(p_blobs) + 1, dtype=np.int64)
            if p_blobs:
                np.cumsum(
                    np.fromiter(
                        (len(b) for b in p_blobs),
                        dtype=np.int64,
                        count=len(p_blobs),
                    ),
                    out=p_off[1:],
                )
            plan_cols = {
                "buf": b"".join(p_blobs),
                "off": p_off,
            }
        finally:
            if _gc_was:
                gc.enable()
        bc = sc.broadcast({"simple_cols": simple_cols, "plan_cols": plan_cols})
        self._bc_cache = (key, bc, next(_BC_SEQ), (s_qids, p_qids))
        return bc

    def verify_qid_spaces(self) -> tuple[list, list]:
        """(simple_qids, plan_qids) row-aligned with the CURRENT verify
        broadcast's columnar value — vid = simple row i, or
        len(simple_qids) + plan row i (driver-side only; workers receive
        vids via the JVM broadcast join, never qid strings)."""
        return self._bc_cache[3]

    def verify_bc_token(self) -> int:
        """Process-unique token for the CURRENT verify broadcast — the
        worker-side cache key component (see percolate._WORKER_VERIFY_CACHE).
        Unlike ``version`` it can never alias across registries: it is drawn
        from a module-level sequence each time a new broadcast is built, and
        stays fixed while the cached broadcast is reused."""
        return self._bc_cache[2]

    def warmup(
        self,
        spark: SparkSession,
        fields: dict | None = None,
        sample: "DataFrame | None" = None,
        content_col: str = "content",
        id_col: str = "doc_id",
    ) -> None:
        """Registration-time warmup (the reference pays its query parse at
        registration, BatchPercolatorQueriesRegistry.java:244-266): build +
        ship the verify-plan broadcast and precompute the join-verify
        structures for the anticipated batch field layout, so the FIRST
        percolation batch pays neither. ``fields`` mirrors percolate()'s
        parameter; None = the single-field default layout.

        ``sample`` — a small REPRESENTATIVE document batch (a prior batch,
        a corpus sample; the reference's analog draws term stats from its
        live index). When given, warmup runs one full percolation over it,
        which (a) builds the per-registry batch-plan cache — gate choice +
        join-verify lane decision from the sample's term statistics, so
        the first real batch skips its stats-probe and bt-count jobs —
        and (b) exercises the execution path once: python workers spawn,
        the verify broadcast ships, whole-stage codegen compiles. After a
        representative-sample warmup the first production batch runs at
        steady-state (warm) speed. Stats drift only affects gate
        selectivity, never results: the plan is reused until the registry
        mutates."""
        from ..operators.percolate import _jv_structs, percolate

        self.broadcast_verify_plans(spark)
        if fields is None:
            qfields = sorted(self.query_fields())
            resolve = {qf: "tokens" for qf in qfields}
            _jv_structs(self, resolve, {"tokens": 0}, set(), set(), ["tokens"])
        if sample is not None:
            res = percolate(
                spark, sample, self,
                content_col=content_col, id_col=id_col, fields=fields,
            )
            res.matches.count()
            res.unpersist()

    def jv_verify_atoms(self) -> dict[str, tuple]:
        """qid -> (need, forbid) atom tuples for every verify-needing query
        the Catalyst join-verify lane can evaluate exactly. Atoms are
        ("t", field, term) — term containment — or ("g<n>", field,
        "w1 .. wn") — an n-term slop-0 phrase, which is EXACTLY contiguous
        n-gram containment (n <= _JV_MAX_GRAM). Eligible shapes: a bare
        slop-0 phrase, or Bool whose must/filter/must_not clauses are all
        Terms / slop-0 Phrases (shoulds are score-only when must/filter
        present — evaluator semantics). The lane is equivalence-tested
        against the python evaluator."""
        out: dict[str, tuple] = {}
        for qid in self.gate_verify_ids():
            cq = self.queries[qid]
            req = (
                cq.jv_req if cq.jv_req is not _UNSET else _jv_requirements(cq.plan)
            )
            if req is not None:
                out[qid] = req
        return out

    @classmethod
    def from_rows(
        cls,
        rows: list[tuple[str, str | dict]],
        skip_invalid: bool = False,
    ) -> "CompiledRegistry":
        """``skip_invalid`` selects the reference's RECOVERY semantics: a
        query that fails to parse is warn-logged and skipped, never aborting
        the bulk load (BatchQueriesLoaderCollector.java:89-90 catches
        per-query, logs 'failed to add query [id]', and keeps collecting).
        The API registration path keeps raising (the reference's preIndex
        validate throws per request, BatchPercolatorQueriesRegistry.java:148)."""
        reg = cls()
        for qid, qjson in rows:
            try:
                reg.register(qid, qjson)
            except Exception as e:
                if not skip_invalid:
                    raise
                _LOG.warning("failed to add query [%s]: %r", qid, e)
        return reg

    @classmethod
    def from_df(
        cls,
        queries_df: DataFrame,
        distributed: bool | str = "auto",
        skip_invalid: bool = False,
    ) -> "CompiledRegistry":
        """Compile a (query_id, query_json) table into a registry.

        ``skip_invalid`` — recovery semantics (see ``from_rows``): a query
        that fails to parse is warn-logged (driver-side, with its id) and
        skipped instead of aborting the load, matching
        BatchQueriesLoaderCollector.java:89-90.

        ``distributed`` parallelizes the parse+approximate+flatten work
        across executors (the reference compiles per shard in parallel,
        BatchQueriesLoaderCollector.java:77-96; a 225k-query registry
        costs ~8-12s single-threaded on the driver). Each partition
        compiles its queries through the SAME ``register`` code path used
        on the driver and ships ONE pickled list of CompiledQuery back
        (mapInPandas/Arrow); the driver only unpickles and assembles the
        dict — equality with driver compilation is test-asserted. "auto"
        goes distributed only for genuinely large inputs: partitioned AND
        ≥ _DIST_COMPILE_MIN rows (20,000 — below that the
        serial compile is ~1s and avoids both the executor round-trip and
        any dependence on the package being shipped to executors, e.g. a
        recovery load on a session launched without --py-files).
        """
        import pickle

        import pandas as _pd

        if distributed == "auto":
            # bounded probe: "are there >= MIN rows?" needs a limit(MIN)
            # scan, not a full count — a filtered parquet/Iceberg source
            # would otherwise pay one whole-table count action before any
            # compile work
            distributed = (
                queries_df.rdd.getNumPartitions() > 1
                and queries_df.limit(_DIST_COMPILE_MIN).count()
                >= _DIST_COMPILE_MIN
            )

        if not distributed:
            rows = queries_df.select("query_id", "query_json").collect()
            return cls.from_rows(
                [(r["query_id"], r["query_json"]) for r in rows],
                skip_invalid=skip_invalid,
            )

        def compile_part(it):
            for pdf in it:
                compiled = []
                skipped = []
                tmp = cls()
                for qid, qjson in zip(pdf["query_id"], pdf["query_json"]):
                    try:
                        tmp.register(qid, qjson)  # exact driver semantics
                    except Exception as e:
                        if not skip_invalid:
                            raise
                        # warn DRIVER-side (executor logs are easy to
                        # lose): ship (qid, error) back with the blobs
                        skipped.append((qid, repr(e)))
                        continue
                    # blob-backed: the plan/approx trees are pickled HERE
                    # and all planner metadata precomputed, so the driver
                    # assembles the registry — and later the verify
                    # broadcast — without ever unpickling a plan tree.
                    # Ship the constructor ARG TUPLE, not the object: raw
                    # tuples unpickle ~3x faster than per-object REDUCE
                    # opcodes (measured 20ms vs 63ms per 3.5k queries)
                    compiled.append(tmp.queries.pop(qid).to_blob().__reduce__()[1])
                yield _pd.DataFrame({"blob": [pickle.dumps((compiled, skipped))]})

        reg = cls()
        q = reg.queries
        try:
            # Arrow fetch (toPandas), not collect(): the blobs total
            # ~100+ MB at a 225k-query registry, and collect()'s
            # row-at-a-time pickle deserializer pays per-row overhead on
            # each multi-MB binary cell while toPandas streams the same
            # bytes through Arrow record batches (zero-copy into the
            # binary column). Measured at 225k/64 partitions: fetch+stage
            # 9.9s -> ~7s cold, ~2s warm.
            blob_pdf = (
                queries_df.select("query_id", "query_json")
                .mapInPandas(compile_part, "blob binary")
                .toPandas()
            )
            blobs = list(blob_pdf["blob"])
        except Exception as e:
            # distributed compile needs the package importable on
            # executors (spark-submit --py-files, the shipping config).
            # A recovery load on a session launched WITHOUT it (auto
            # flips distributed at >= _DIST_COMPILE_MIN rows) must
            # still come back: fall back to the driver-side compile the
            # pre-distributed path always used, with the same
            # skip_invalid semantics.
            _LOG.warning(
                "distributed registry compile failed (%r); "
                "falling back to driver-side compile",
                e,
            )
            rows = queries_df.select("query_id", "query_json").collect()
            return cls.from_rows(
                [(r["query_id"], r["query_json"]) for r in rows],
                skip_invalid=skip_invalid,
            )
        # The mass unpickle allocates millions of small objects (per-query
        # group/requirement tuples); CPython's generational GC re-walks the
        # whole growing heap every ~700 allocations, turning a ~0.02s/
        # partition unpickle into seconds. Nothing here creates reference
        # cycles, so pause collection for the assembly loop.
        import gc

        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for blob in blobs:
                compiled, skipped = pickle.loads(blob)
                for args in compiled:
                    q[args[0]] = _rebuild_cq(*args)
                for qid, err in skipped:
                    _LOG.warning("failed to add query [%s]: %s", qid, err)
        finally:
            if gc_was_enabled:
                gc.enable()
        reg.version = len(q)
        return reg

    def register(self, query_id: str, query_json: str | dict) -> None:
        """Parse + approximate + flatten (the reference's preIndex validate +
        postIndexUnderLock register, BatchPercolatorQueriesRegistry.java:270-313).

        Accepts either a bare query object or the reference's stored-doc
        shape ``{"query": {...}, "highlight": {...}}`` — a percolator doc
        carries its own highlight spec (APITests.java:63-90)."""
        if isinstance(query_json, str):
            query_json = json.loads(query_json)
        highlight = None
        if isinstance(query_json, dict) and "query" in query_json:
            hl_body = query_json.get("highlight")
            if hl_body:
                from ..operators.highlight import HighlightSpec

                highlight = HighlightSpec.from_dict(hl_body)
            query_json = query_json["query"]
        self.version += 1
        plan = compile_query(query_json)
        approx = limiting_filter(plan)
        if isinstance(approx, MatchNone):
            self.queries[query_id] = CompiledQuery(
                query_id, plan, approx, None, False, True, highlight
            )
            return
        groups = _flatten_groups(approx) if approx is not None else None
        self.queries[query_id] = CompiledQuery(
            query_id, plan, approx, groups, _needs_verify(plan), False, highlight
        )

    def unregister(self, query_id: str) -> None:
        self.version += 1
        self.queries.pop(query_id, None)

    # ---- flat gate-group table (vectorized planner inputs) --------------

    def flat_groups(self):
        """Flat atom table over every filterable query's gate groups,
        cached per registry version: ``(qid_arr, tbl)`` where ``tbl`` is a
        pandas DataFrame (qix int32, gi int16, kind str, field str,
        value str) in registration × group × member order and ``qid_arr``
        maps qix → query_id. One tight pass per registry version; the
        per-batch planner work on top of it (gate choice, stats-probe
        vocabulary, gate-table assembly) is pure pandas — at a 10^6-query
        registry the per-query python ``min()`` formulation of gate choice
        alone measured ~100s on the driver, the vectorized path seconds."""
        import numpy as np
        import pandas as _pd

        cached = getattr(self, "_flat_groups_cache", None)
        if cached is not None and cached[0] == self.version:
            return cached[1]
        qids: list[str] = []
        qixs: list[int] = []
        gis: list[int] = []
        kinds: list[str] = []
        flds: list[str] = []
        vals: list[str] = []
        qix = 0
        for q in self.queries.values():
            if q.match_none or q.groups is None or len(q.groups) == 0:
                continue
            for gi, group in enumerate(q.groups):
                for kind, f, v in group:
                    qixs.append(qix)
                    gis.append(gi)
                    kinds.append(kind)
                    flds.append(f)
                    vals.append(v)
            qids.append(q.query_id)
            qix += 1
        tbl = _pd.DataFrame(
            {
                "qix": np.asarray(qixs, dtype=np.int32),
                "gi": np.asarray(gis, dtype=np.int16),
                "kind": kinds,
                "field": flds,
                "value": vals,
            }
        )
        out = (np.asarray(qids, dtype=object), tbl)
        self._flat_groups_cache = (self.version, out)
        return out

    def gates_pdf(self, term_df_pdf=None):
        """Vectorized gate choice — identical semantics to ``gates()``
        (one gate group per filterable query: the literal-only group with
        the lowest summed batch df, first-in-order on ties; a query with
        no literal-only group gates on its smallest group, whose wildcard
        members expand against the batch dictionary downstream).

        ``term_df_pdf``: pandas DataFrame (field, value, df) of batch
        document frequencies; absent terms count 0. Returns
        ``(lit_pdf, pat_pdf)``: pandas DataFrames (query_id, field, term)
        and (query_id, field, pattern)."""
        import numpy as np
        import pandas as _pd

        from ..operators.match import wildcard_to_like

        qid_arr, tbl = self.flat_groups()
        empty_lit = _pd.DataFrame(
            {"query_id": [], "field": [], "term": []}, dtype=object
        )
        empty_pat = _pd.DataFrame(
            {"query_id": [], "field": [], "pattern": [], "pkind": [],
             "fz": [], "pfx": []}, dtype=object
        )
        if tbl.empty:
            return empty_lit, empty_pat
        t = tbl
        is_t = (t["kind"].to_numpy() == "t")
        if term_df_pdf is not None and len(term_df_pdf):
            m = t.merge(term_df_pdf, on=["field", "value"], how="left")
            adf = m["df"].fillna(0).to_numpy(dtype=np.int64)
        else:
            adf = np.zeros(len(t), dtype=np.int64)
        g = _pd.DataFrame(
            {
                "qix": t["qix"],
                "gi": t["gi"],
                "nonlit": (~is_t).astype(np.int32),
                "score": np.where(is_t, adf, 0),
            }
        )
        agg = g.groupby(["qix", "gi"], sort=True).agg(
            n=("nonlit", "size"), nonlit=("nonlit", "sum"), score=("score", "sum")
        ).reset_index()
        lit_g = agg[agg["nonlit"] == 0]
        # first minimal in gi order == gates()' min() tie-break (agg is
        # sorted (qix, gi), idxmin keeps the first occurrence)
        best_lit = lit_g.loc[lit_g.groupby("qix")["score"].idxmin(), ["qix", "gi"]]
        rest = agg[~agg["qix"].isin(best_lit["qix"])]
        best_sz = rest.loc[rest.groupby("qix")["n"].idxmin(), ["qix", "gi"]]
        chosen = _pd.concat([best_lit, best_sz], ignore_index=True)
        sel = t.merge(chosen, on=["qix", "gi"])
        sel = sel.assign(query_id=qid_arr[sel["qix"].to_numpy()])
        lit = sel[sel["kind"] == "t"]
        pat = sel[sel["kind"] != "t"]
        lit_pdf = lit[["query_id", "field", "value"]].rename(
            columns={"value": "term"}
        )
        if len(pat):
            # pkind selects the expansion predicate downstream:
            #   'like' — term LIKE pattern        (wildcard, kind "w")
            #   're'   — term RLIKE pattern       (regexp, kind "r"; anchored)
            #   'fz'   — startswith(term, pfx) AND levenshtein(term,
            #            pattern) <= fz           (fuzzy, kind "f{fz}.{pl}")
            pkinds, pats, fzs, pfxs = [], [], [], []
            for k, v in zip(pat["kind"], pat["value"]):
                if k == "w":
                    pkinds.append("like")
                    pats.append(wildcard_to_like(v))
                    fzs.append(0)
                    pfxs.append("")
                elif k == "r":
                    pkinds.append("re")
                    pats.append("^(?:" + v + ")$")
                    fzs.append(0)
                    pfxs.append("")
                else:  # f{fz}.{pl}
                    fz_s, pl_s = k[1:].split(".")
                    pkinds.append("fz")
                    pats.append(v)
                    fzs.append(int(fz_s))
                    pfxs.append(v[: int(pl_s)])
            pat_pdf = _pd.DataFrame(
                {
                    "query_id": pat["query_id"].to_numpy(),
                    "field": pat["field"].to_numpy(),
                    "pattern": pats,
                    "pkind": pkinds,
                    "fz": fzs,
                    "pfx": pfxs,
                }
            )
        else:
            pat_pdf = empty_pat
        return lit_pdf.reset_index(drop=True), pat_pdf

    def query_fields(self) -> set[str]:
        """Every document field any registered query references."""
        from ..plans.query_plan import fields_of

        out: set[str] = set()
        for q in self.queries.values():
            out |= (
                q.fields_fs if q.fields_fs is not None else fields_of(q.plan)
            )
        return out

    def all_docs_query_ids(self) -> list[str]:
        """Queries that are candidates for EVERY doc: unfilterable (approx
        absent — reference Optional.absent) or zero-constraint (match_all)."""
        return [
            q.query_id
            for q in self.queries.values()
            if not q.match_none and (q.groups is None or len(q.groups) == 0)
        ]

    def gate_verify_ids(self) -> list[str]:
        """Ids of queries needing phase-2 under GATED phase 1 (one group
        per query): every query whose match isn't implied by its gate group
        alone — all needs_verify queries plus exact multi-group
        conjunctions. Pure metadata: never touches (= never unpickles)
        plan trees."""
        return [
            q.query_id
            for q in self.queries.values()
            if not q.match_none
            and (
                q.needs_verify  # incl. unfilterable (groups None) queries
                or (q.groups is not None and len(q.groups) > 1)
            )
        ]

    def gates(
        self, term_df: dict[tuple[str, str], int] | None = None
    ) -> tuple[list, list]:
        """Choose ONE gate group per filterable query: a doc can match only
        if it satisfies every group, so any single group is a sound
        candidate filter — pick the most selective (lowest summed df; the
        rarest-term trick). Literal-only groups are preferred; a query with
        no literal-only group gates on a pattern group (expanded against the
        batch term dictionary downstream).

        ``term_df`` is keyed by (field, term); absent-from-batch terms have
        df=0 — gating on them is optimal (zero candidates, correctly).
        Returns (literal_gates, pattern_gates): literal_gates =
        [(query_id, field, term)], pattern_gates = [(query_id, field,
        like_pattern)]. Tuple-building wrapper over the vectorized
        ``gates_pdf`` (one python loop per registered query measured ~100s
        at a 10^6-query registry)."""
        import pandas as _pd

        tdf_pdf = None
        if term_df:
            tdf_pdf = _pd.DataFrame(
                [(f, v, d) for (f, v), d in term_df.items()],
                columns=["field", "value", "df"],
            )
        lit_pdf, pat_pdf = self.gates_pdf(tdf_pdf)
        lit_rows = list(
            zip(lit_pdf["query_id"], lit_pdf["field"], lit_pdf["term"])
        )
        pat_rows = list(
            zip(pat_pdf["query_id"], pat_pdf["field"], pat_pdf["pattern"])
        )
        return lit_rows, pat_rows


# longest slop-0 phrase the join-verify n-gram streams cover; longer
# phrases stay on the python evaluator (an n-gram stream per length is
# one explode each — past ~8 the stream count outweighs the rare query)
_JV_MAX_GRAM = 8


def _jv_atom(c: Plan) -> tuple | None:
    """A clause the join-verify lane evaluates via containment in a single
    (doc, fcol, token-or-ngram) stream; None when not expressible.
    Kinds: "t" = unigram containment, "g<n>" = n-gram containment (a
    slop-0 phrase of n terms is EXACTLY contiguous-n-gram containment),
    "w" = wildcard containment (any batch-dictionary term matching the
    pattern present — the reference's automaton-over-index-terms expansion,
    WildcardTermsProducer.getTerms:26-53, applied at verify time), and
    "wg<n>" = wildcard-phrase containment: an n-producer adjacency phrase
    with EXACTLY ONE wildcard position, expanded against the dictionary
    into concrete n-grams (the wildcard position is "\\x01"-prefixed in
    the space-joined encoding; >1 wildcard position would need a
    combinatorial multi-join and stays on the python evaluator)."""
    if isinstance(c, Term):
        return ("t", c.field, c.value)
    if isinstance(c, Wildcard):
        if " " in c.pattern or "\x01" in c.pattern:
            return None  # can't match tokenized terms / breaks encoding
        return ("w", c.field, c.pattern)
    if isinstance(c, Phrase) and c.slop == 0:
        if len(c.terms) == 1:
            return ("t", c.field, c.terms[0])
        if len(c.terms) <= _JV_MAX_GRAM:
            return (f"g{len(c.terms)}", c.field, " ".join(c.terms))
    if isinstance(c, WildcardPhrase) and len(c.producers) <= _JV_MAX_GRAM:
        n = len(c.producers)
        parts: list[str] = []
        n_wild = 0
        for p in c.producers:
            if isinstance(p, Term):
                if " " in p.value or "\x01" in p.value:
                    return None  # would break the space-joined encoding
                parts.append(p.value)
            elif isinstance(p, Wildcard):
                if " " in p.pattern or "\x01" in p.pattern:
                    return None
                n_wild += 1
                parts.append("\x01" + p.pattern)
            else:
                return None
        if n_wild == 0:
            return (
                ("t", c.field, parts[0])
                if n == 1
                else (f"g{n}", c.field, " ".join(parts))
            )
        if n_wild == 1:
            if n == 1:
                return ("w", c.field, parts[0][1:])
            return (f"wg{n}", c.field, " ".join(parts))
    return None


def _jv_requirements(plan: Plan) -> tuple | None:
    """(need, forbid) atom tuples when ``plan`` is exactly "doc satisfies
    every need atom and no forbid atom"; None otherwise."""
    a = _jv_atom(plan)
    if a is not None:
        return ((a,), ())
    if isinstance(plan, Bool):
        if plan.should and plan.msm:
            return None  # >=k-of-should is not a pure need/forbid shape
        clauses = plan.must + plan.filter
        if clauses:
            need = [_jv_atom(c) for c in clauses]
            forbid = [_jv_atom(c) for c in plan.must_not]
            if all(x is not None for x in need) and all(
                x is not None for x in forbid
            ):
                return (tuple(need), tuple(forbid))
    return None


def _simple_required(plan: Plan) -> tuple | None:
    """(required, forbidden) — each a tuple of (field, term) — when matching
    ``plan`` is EXACTLY "doc contains every required term and no forbidden
    term": Bool with must/filter all Terms and must_not all Terms (shoulds
    are score-only when must/filter present — evaluator semantics). None
    otherwise."""
    if isinstance(plan, Bool):
        if plan.should and plan.msm:
            return None  # >=k shoulds are REQUIRED, not score-only
        clauses = plan.must + plan.filter
        if (
            clauses
            and all(isinstance(c, Term) for c in clauses)
            and all(isinstance(c, Term) for c in plan.must_not)
        ):
            return (
                tuple((c.field, c.value) for c in clauses),
                tuple((c.field, c.value) for c in plan.must_not),
            )
    return None


def _flatten_groups(approx: Plan) -> list[set[tuple[str, str, str]]] | None:
    if isinstance(approx, Term):
        return [{("t", approx.field, approx.value)}]
    if isinstance(approx, Wildcard):
        return [{("w", approx.field, approx.pattern)}]
    if isinstance(approx, Fuzzy):
        # kind packs the expansion params; value carries the raw term —
        # gates_pdf unpacks into (pkind='fz', fz, pfx) columns
        return [{(f"f{approx.fuzziness}.{approx.prefix_length}",
                  approx.field, approx.value)}]
    if isinstance(approx, Regexp):
        return [{("r", approx.field, approx.pattern)}]
    if isinstance(approx, MatchAll):
        return []
    if isinstance(approx, (Range, Exists, Ids)):
        return []  # non-term-joinable constraint, drop (sound)
    if isinstance(approx, Bool):
        if approx.must or approx.filter:
            out: list[set[tuple[str, str]]] = []
            for c in list(approx.must) + list(approx.filter):
                g = _flatten_groups(c)
                if g is not None:
                    out.extend(g)  # unreducible child dropped — sound
            if approx.should and approx.effective_msm():
                # limiting_filter sets msm=1 when the source query's
                # minimum_should_match makes shoulds REQUIRED alongside
                # must/filter: >=1-of-union is then a sound extra gate
                union: set[tuple[str, str, str]] = set()
                usable = True
                for c in approx.should:
                    g = _flatten_groups(c)
                    if g is None or len(g) == 0:
                        usable = False  # unconstrained branch: skip group
                        break
                    union |= g[0]
                if usable:
                    out.append(union)
            return out
        if approx.should:
            union: set[tuple[str, str]] = set()
            for c in approx.should:
                g = _flatten_groups(c)
                if g is None or len(g) == 0:
                    return None  # a should branch with no constraint
                union |= g[0]
            return [union]
        return []  # pure must_not approx: no positive constraint
    return None


def _needs_verify(plan: Plan) -> bool:
    """False only when phase-1 group semantics are EXACT for this plan.

    Wildcards are exact too: phase 1 expands them against the batch term
    dictionary (the reference's automaton over the index terms,
    WildcardTermsProducer.java:26-53), so presence of >=1 expanded term IS
    the wildcard match.
    """
    if isinstance(plan, (Term, Wildcard, Fuzzy, Regexp, MatchAll)):
        return False
    if isinstance(plan, Bool):
        if plan.must_not:
            return True  # groups ignore must_not -> over-approximate
        if plan.should and plan.msm and (
            plan.msm > 1 or plan.must or plan.filter
        ):
            # phase-1 groups encode >=1-of-group; a >=k-of-should
            # constraint (or any should requirement alongside must, which
            # groups drop) is only a superset -> phase 2 must verify
            return True
        if plan.must or plan.filter:
            # shoulds are optional (score-only) when must/filter present —
            # matching is decided by the must/filter atoms alone
            clauses = plan.must + plan.filter
        else:
            clauses = plan.should
        return not all(
            isinstance(c, (Term, Wildcard, Fuzzy, Regexp)) for c in clauses
        )
    return True


# ---- durable queries table (S5 registration sink / S6 recovery scan) -----

def save_registry(spark: SparkSession, rows: list[tuple[str, str | dict]], path: str) -> None:
    data = [
        (qid, json.dumps(qj) if isinstance(qj, dict) else qj) for qid, qj in rows
    ]
    spark.createDataFrame(data, "query_id string, query_json string").write.mode(
        "overwrite"
    ).parquet(path)


def load_registry(spark: SparkSession, path: str) -> CompiledRegistry:
    """The recovery path: re-read + re-compile every stored query
    (ShardLifecycleListener.loadQueries, BatchPercolatorQueriesRegistry.java:244-266).

    Recovery uses skip-and-warn per-query error semantics: one malformed
    stored query must not keep the other 224,999 from coming back
    (BatchQueriesLoaderCollector.java:89-90 logs 'failed to add query [id]'
    and keeps collecting). API registration, by contrast, raises per
    request (``register``)."""
    return CompiledRegistry.from_df(spark.read.parquet(path), skip_invalid=True)

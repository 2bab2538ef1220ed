"""Phase-2 verification: the one evaluator of registered plans on workers.

The reference sends every surviving (query, doc) pair through one
``executeSearch`` and skips a failing query with a log line
(BatchPercolatorService.java:347-394, :364-368). This module is that one
path and the only one that knows the verify broadcast format: the
columnar builder (``build_verify_plans``) and its reference decoder
(``_sdecode``), the worker cache (``_WORKER_VERIFY_CACHE``) and the pandas
UDF (``verify_udf``), whose one per-query ``except`` counts into a Spark
accumulator. Percolate's python lane feeds it candidate vids from a JVM
broadcast join; the windowed hybrid lane feeds it a literal array of every
unsupported query's vid. Workers never see query-id strings: each caller
maps hit vids back on the JVM.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.eval_py import compile_predicate_fields
from ..sources.registry import _UNSET, _simple_required

# Worker-process cache of the UNPICKLED verify broadcast + its compiled-
# predicate memo, keyed by (applicationId, VerifyPlans.token) — never raw
# ``version``, which aliases across registries (see registry._TOKENS and
# test_worker_verify_cache_no_alias_across_registries). PySpark's own
# per-worker broadcast value cache is unreliable across tasks (the
# python-side seen-set is weakly held), so the value was re-unpickled per
# TASK: ~110s per worker at a 10^6-query registry with 32 workers, the
# whole cold-start cliff of BASELINE.md's 1M-query study.
#
# IMPORTANT: resolve this dict via a RUNTIME IMPORT inside the UDF, never
# by closing over the name — cloudpickle ships a closed-over module global
# by value, a fresh copy per task, and the cache silently never hits
# (measured: memo0 == 0 on every task). The imported module lives as long
# as the reused worker (spark.python.worker.reuse), so the unpickle and
# every compiled predicate are paid ONCE per worker per broadcast. Needs
# the package importable on workers (local mode, ``--py-files``).
# Capped at _CACHE_CAP entries so a hot-swap (new token) releases the old
# value; the cap leaves room for percolate's broadcast and a windowed
# stream's in one application, plus one hot-swap of each.
_WORKER_VERIFY_CACHE: dict = {}
_CACHE_CAP = 4

# True after any worker-side gc.freeze() that ran while an Arrow batch was
# in flight: freeze() pins the WHOLE live graph, including that batch's
# pandas transients (which participate in reference cycles and would
# otherwise never be collected). The next verify call unfreezes and
# collects the now-dead batch, bounding the frozen-transient pin to at
# most one batch per worker; the memo then lives in (large) gen2, where
# CPython's 25%-of-long-lived heuristic keeps full collections rare.
_WORKER_FREEZE_PENDING: list = [False]


class VerifyPlans(NamedTuple):
    """The phase-2 verify broadcast and the driver-side qid spaces
    row-aligned with its columnar value: vid = simple row i, or
    len(simple_qids) + plan row i (workers receive vids, never qid
    strings). ``token`` keys the workers' _WORKER_VERIFY_CACHE (see
    registry._TOKENS)."""

    bc: Broadcast
    token: int
    simple_qids: list
    plan_qids: list


def build_verify_plans(sc, registry, qids, token: int) -> VerifyPlans:
    """Broadcast ``qids``' plans columnar; value = {"simple_cols":
    <columnar simple lane>, "plan_cols": <columnar plan blobs>}.

    Pure term-conjunctions — the bulk of a realistic registry — ship as one
    qid list, int64 offset arrays, an int32 field-index array and one utf-8
    term buffer (``simple_cols``), NOT a dict of per-query tuples. At a
    10^6-query registry the dict form unpickled ~8M small objects in EVERY
    python worker (~800MB resident x workers; under 32 concurrent workers
    the kernel-bound allocation measured ~110s/worker — BASELINE.md 1M
    study); the columnar form unpickles as a handful of buffer copies
    (~13x faster single-threaded, ~4x smaller resident) and the verify UDF
    runs its containment checks straight off those columnar buffers,
    decoding no per-query tuple."""
    import gc
    import pickle

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
        for qid in qids:
            cq = registry.queries[qid]
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
        # never see query-id strings. Percolate maps query_id -> vid
        # (unified row id: simple rows first, then plan rows) with a JVM
        # broadcast join — ONE Tungsten hash table per executor instead of
        # a 10^6-entry python dict (and 1.4M string allocations) in EVERY
        # worker, which measured ~47s/worker under 32-way concurrency.
        # VerifyPlans carries the lists driver-side for that mapping.
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
        # is one copy, and a worker slices out only the blobs whose vids
        # actually become candidates (``_pred``). Per-query unpickle
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
        plan_cols = {"buf": b"".join(p_blobs), "off": p_off}
    finally:
        if _gc_was:
            gc.enable()
    bc = sc.broadcast({"simple_cols": simple_cols, "plan_cols": plan_cols})
    return VerifyPlans(bc, token, s_qids, p_qids)


def _sdecode(c: dict, i: int) -> tuple:
    """Decode simple-lane row ``i`` of the COLUMNAR verify broadcast back
    into (need, forbid) — each a tuple of (field, term) — exactly the shape
    ``_simple_required`` produced driver-side (the columnar form exists so
    workers unpickle buffers, not 10^6 dicts-of-tuples). REFERENCE
    IMPLEMENTATION only, pinned by test_percolate.py's columnar round-trip
    test: the verify UDF deliberately does NOT call it (it checks terms
    straight off the shared buffers — materializing a tuple per candidate
    re-creates the object graph the columnar form exists to avoid, measured
    4-5x slower cold batches at a 10^6-query registry)."""
    flds = c["fields"]
    out = []
    for off, farr, tbuf, toff in (
        (c["need_off"], c["need_f"], c["need_t"], c["need_t_off"]),
        (c["forb_off"], c["forb_f"], c["forb_t"], c["forb_t_off"]),
    ):
        a, b = int(off[i]), int(off[i + 1])
        out.append(
            tuple(
                (flds[farr[j]], tbuf[toff[j] : toff[j + 1]].decode())
                for j in range(a, b)
            )
        )
    return (out[0], out[1])


def verify_udf(
    spark: SparkSession,
    plans: VerifyPlans,
    qf_to_idx: dict,
    nested_idx: set,
    scalar_idx: set,
):
    """The phase-2 pandas UDF over ``plans``: (vids, *view columns) per doc
    → hit vids, and the Spark accumulator its per-query ``except`` counts
    into (valid after an action; every evaluation counts again).

    ``qf_to_idx`` maps each query field to the index of its view column;
    a column in ``nested_idx`` is an array of child structs, one in
    ``scalar_idx`` a raw scalar (Range values, the ``_id`` string), any
    other a token array. Every name the nested functions close over is
    picklable driver state (no DataFrames): cloudpickle ships them by value
    with the UDF."""
    bc_plans = plans.bc
    bc_key = (spark.sparkContext.applicationId, plans.token)
    n_simple = len(plans.simple_qids)
    errors = spark.sparkContext.accumulator(0)

    def _bc_state():
        # runtime import: see _WORKER_VERIFY_CACHE
        from elasticsearch_batch_percolator_spark.operators import (
            verify as _vm,
        )

        cache = _vm._WORKER_VERIFY_CACHE
        fpend = _vm._WORKER_FREEZE_PENDING
        st = cache.get(bc_key)
        if st is None:
            val = bc_plans.value
            while len(cache) >= _CACHE_CAP:
                cache.pop(next(iter(cache)))
            # (value, compiled-plan memo). Simple-lane rows are NOT
            # memoized as python tuples: a tuple per candidate vid
            # re-creates the ~500MB-per-worker object graph the columnar
            # form exists to avoid (4-5x slower first batches at 1M
            # queries); the loop below reads the shared buffers instead.
            st = (val, {})
            cache[bc_key] = st
            # Freeze the freshly built state out of the GC generations.
            # The columnar broadcast leaves the tracked-object count
            # SMALL, so as the predicate memo grows CPython's gen2
            # heuristic (pending > 25% of long-lived) fires full
            # collections almost continuously — measured +100s per
            # 20k-doc batch at a 10^6-query registry. freeze() keeps
            # those scans proportional to NEW objects; the state is
            # worker-lifetime anyway.
            import gc

            gc.freeze()
            fpend[0] = True  # this call's transients are pinned too
        return st, fpend

    def _pred(vid, i, pcols, memo):
        # plan blobs live in ONE shared buffer (see build_verify_plans):
        # slice plan row ``i``'s bytes out lazily — only candidate vids
        # ever pay an unpickle + predicate compile, memoized per worker
        # (int-keyed)
        import pickle

        p = memo.get(vid)
        if p is None:
            off = pcols["off"]
            blob = pcols["buf"][off[i] : off[i + 1]]
            p = compile_predicate_fields(pickle.loads(blob))
            memo[vid] = p
        return p

    _EMPTY = ([], frozenset())

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def verify_doc(vid_lists: pd.Series, *tok_series: pd.Series) -> pd.Series:
        import gc

        (_val, memo), _fpend = _bc_state()
        if _fpend[0]:
            # a prior call's freeze pinned that call's Arrow batch;
            # its transients are dead now — unpin everything, collect
            # their cycles, and leave the memo in gen2 (large
            # long-lived count => rare full collections). A cold
            # growth phase below re-freezes and re-arms the flag.
            gc.unfreeze()
            gc.collect()
            _fpend[0] = False
        scols = _val["simple_cols"]
        pcols = _val["plan_cols"]
        # simple-lane buffers, bound locally for the hot loop
        _flds = scols["fields"]
        _noff = scols["need_off"]
        _nf = scols["need_f"]
        _nt = scols["need_t"]
        _ntoff = scols["need_t_off"]
        _foff = scols["forb_off"]
        _ff = scols["forb_f"]
        _ft = scols["forb_t"]
        _ftoff = scols["forb_t_off"]
        _g0 = len(memo)
        out = []
        for row in zip(vid_lists, *tok_series):
            vids = row[0]
            views = []
            for ci, s in enumerate(row[1:]):
                if ci in scalar_idx:
                    views.append(s)  # raw scalar: Range values, _id
                    continue
                if ci in nested_idx:
                    # array-typed child fields become lists; scalar
                    # children (numeric weights etc.) pass through for
                    # Range predicates — list() on a scalar would raise
                    # OUTSIDE the per-query try below and abort the
                    # whole batch (E10 isolation violation)
                    kids = []
                    for kid in (s if s is not None else []):
                        view = {}
                        for k, v in dict(kid).items():
                            if v is None:
                                view[k] = []
                            elif isinstance(v, (list, tuple, np.ndarray)):
                                view[k] = list(v)
                            else:
                                view[k] = v
                        kids.append(view)
                    views.append(kids)
                else:
                    tl = s.tolist() if s is not None else []
                    views.append((tl, set(tl)))
            fmap = {qf: views[i] for qf, i in qf_to_idx.items()}
            hit = []
            for vid in vids:
                try:
                    if vid < n_simple:
                        # term-conjunction fast lane: containment
                        # checks straight off the columnar buffers —
                        # short-circuits on the first missing required
                        # term, allocates nothing that outlives the
                        # pair (no closure compile, no decoded memo)
                        ok = True
                        for j in range(_noff[vid], _noff[vid + 1]):
                            v = fmap.get(_flds[_nf[j]], _EMPTY)
                            if (
                                type(v) is not tuple
                                or _nt[_ntoff[j] : _ntoff[j + 1]].decode()
                                not in v[1]
                            ):
                                ok = False
                                break
                        if ok:
                            for j in range(_foff[vid], _foff[vid + 1]):
                                v = fmap.get(_flds[_ff[j]], _EMPTY)
                                if (
                                    type(v) is tuple
                                    and _ft[_ftoff[j] : _ftoff[j + 1]].decode()
                                    in v[1]
                                ):
                                    ok = False
                                    break
                        if ok:
                            hit.append(vid)
                        continue
                    p = _pred(vid, vid - n_simple, pcols, memo)
                    if p is not None and p(fmap):
                        hit.append(vid)
                except Exception:
                    # per-query error isolation (E10): the pair is
                    # dropped, the batch goes on, the error is counted
                    errors.add(1)
            out.append(hit)
            if len(memo) - _g0 > 25000:
                # the memos grew a lot: freeze the new worker-lifetime
                # entries MID-CALL (a cold batch is one huge Arrow call
                # per worker — an end-of-call freeze would let gen2
                # churn over the growing graph the whole way through;
                # see the note in _bc_state). freeze() is list-merge
                # cheap, and the 25k step amortizes it to nothing.
                gc.freeze()
                _g0 = len(memo)
                _fpend[0] = True  # next call unpins this batch
        return pd.Series(out)

    return verify_doc, errors

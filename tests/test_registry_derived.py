"""CompiledRegistry.derived: the one owner of registry-derived state.

Every driver-side artifact computed from the registry (verify broadcast,
flat gate groups, percolate's layout state and batch plan, highlight and
windowed broadcasts) lives in one store keyed by ``(version, *key)``. It
rebuilds on a version bump, releases a replaced broadcast with unpersist
(never destroy) and hands each build a process-unique token for
worker-side cache keys."""

import ast
import pathlib
import re

from pyspark.broadcast import Broadcast

from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "elasticsearch_batch_percolator_spark"
)


def _reg() -> CompiledRegistry:
    return CompiledRegistry.from_rows([
        ("fox", {"term": {"content": "fox"}}),
        ("both", {"bool": {"must": [{"term": {"content": "quick"}},
                                    {"term": {"content": "fox"}}]}}),
    ])


def test_hit_returns_same_object():
    reg = _reg()
    tokens = []

    def build(token):
        tokens.append(token)
        return object()

    a = reg.derived("x", (1,), build)
    assert reg.derived("x", (1,), build) is a
    assert len(tokens) == 1
    # a different key rebuilds the (single) entry under that name
    b = reg.derived("x", (2,), build)
    assert b is not a and len(tokens) == 2


def test_register_and_unregister_rebuild():
    reg = _reg()
    first = reg.derived("x", (), lambda _t: object())
    reg.register("dog", {"term": {"content": "dog"}})
    second = reg.derived("x", (), lambda _t: object())
    assert second is not first
    reg.unregister("dog")
    assert reg.derived("x", (), lambda _t: object()) is not second


def test_replaced_broadcast_unpersisted_never_destroyed(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(
        Broadcast, "unpersist",
        lambda self, blocking=False: calls.append(("unpersist", self)),
    )
    monkeypatch.setattr(
        Broadcast, "destroy",
        lambda self, blocking=False: calls.append(("destroy", self)),
    )
    sc = spark.sparkContext
    reg = _reg()
    bc1 = reg.derived("bc", (), lambda _t: sc.broadcast([1]))
    # tuple values release their top-level broadcast (windowed's shape)
    pair1 = reg.derived("pair", (), lambda t: (sc.broadcast([2]), t))
    verify1 = reg.broadcast_verify_plans(spark)
    assert reg.derived("bc", (), lambda _t: sc.broadcast([0])) is bc1
    assert reg.broadcast_verify_plans(spark) is verify1
    assert calls == []  # builds and hits release nothing

    reg.register("dog", {"term": {"content": "dog"}})
    bc2 = reg.derived("bc", (), lambda _t: sc.broadcast([3]))
    pair2 = reg.derived("pair", (), lambda t: (sc.broadcast([4]), t))
    verify2 = reg.broadcast_verify_plans(spark)
    assert bc2 is not bc1 and pair2[0] is not pair1[0]
    assert verify2.bc is not verify1.bc
    assert calls == [
        ("unpersist", bc1), ("unpersist", pair1[0]), ("unpersist", verify1.bc),
    ]


def test_equal_versions_get_distinct_tokens(spark):
    a, b = _reg(), _reg()
    assert a.version == b.version
    ta = a.derived("x", (), lambda t: t)
    tb = b.derived("x", (), lambda t: t)
    assert ta != tb
    assert a.derived("x", (), lambda t: t) == ta  # fixed while reused
    va = a.broadcast_verify_plans(spark)
    vb = b.broadcast_verify_plans(spark)
    assert va.token != vb.token
    assert a.broadcast_verify_plans(spark).token == va.token
    a.register("dog", {"term": {"content": "dog"}})
    assert a.broadcast_verify_plans(spark).token != va.token


def test_warmup_prefill_is_the_layout_percolate_uses(spark):
    """warmup() without a sample prefills percolate's layout entry from
    the view percolate itself builds: a registry holding an ``ids`` query
    maps ``_id`` to the scalar id column, and the first batch must reuse
    the prefilled entry, not rebuild it."""
    reg = CompiledRegistry.from_rows([
        ("both", {"bool": {"must": [{"term": {"content": "quick"}},
                                    {"term": {"content": "fox"}}]}}),
        ("ids", {"ids": {"values": ["1", "3"]}}),
    ])
    reg.warmup(spark)
    prefilled = reg._derived_cache["layout"][1]
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick fox"), (3, "lazy dog")],
        "doc_id long, content string",
    )
    res = percolate(spark, docs, reg)
    got = {(int(r["doc_id"]), r["query_id"]) for r in res.matches.collect()}
    res.unpersist()
    assert reg._derived_cache["layout"][1] is prefilled
    assert got == {(1, "both"), (2, "both"), (1, "ids"), (3, "ids")}


_CACHE_ATTR = re.compile(r"^_[a-z0-9_]*cache$")


def _cache_accesses(tree):
    """Reads/writes of a ``_..._cache`` attribute: ``obj._x_cache`` and
    ``getattr/setattr/hasattr/delattr(obj, "_x_cache", ...)``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and _CACHE_ATTR.match(node.attr):
            yield node.lineno, node.attr
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in ("getattr", "setattr", "hasattr", "delattr")
            and len(node.args) >= 2
            and isinstance(node.args[1], ast.Constant)
            and isinstance(node.args[1].value, str)
            and _CACHE_ATTR.match(node.args[1].value)
        ):
            yield node.lineno, node.args[1].value


def test_registry_state_has_one_owner():
    """Only sources/registry.py touches registry cache attributes; every
    other module goes through ``CompiledRegistry.derived``."""
    owner = PKG / "sources" / "registry.py"
    found = [
        f"{path.relative_to(PKG.parent)}:{line}: {attr}"
        for path in sorted(PKG.rglob("*.py"))
        if path != owner
        for line, attr in _cache_accesses(ast.parse(path.read_text(), str(path)))
    ]
    assert found == []

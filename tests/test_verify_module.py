"""Structural guard: one phase-2 verifier.

Registered plans are evaluated on workers in exactly one place,
``operators/verify.py`` — one worker cache, one plan-blob decoder, one
counted error site. A second hand-rolled copy (its own ``_WORKER_*``
cache, its own ``pickle.loads`` of plan bytes, its own silent ``except``)
is what this test refuses."""

import ast
from pathlib import Path

import elasticsearch_batch_percolator_spark as pkg

ROOT = Path(pkg.__file__).parent
VERIFY = "operators/verify.py"
# the driver-side blob store: CompiledQuery materializes plan trees from
# the bytes it pickled, and from_df assembles executor-compiled partitions
BLOB_STORE = "sources/registry.py"


def _modules():
    for path in sorted(ROOT.rglob("*.py")):
        yield path.relative_to(ROOT).as_posix(), ast.parse(path.read_text())


def _called(node: ast.Call) -> str:
    f = node.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        return f"{f.value.id}.{f.attr}"
    return f.id if isinstance(f, ast.Name) else ""


def test_one_verifier():
    worker_globals = []  # (module, name, is_dict)
    callers = {"compile_predicate_fields": set(), "pickle.loads": set()}
    swallowed = []
    for rel, tree in _modules():
        for stmt in tree.body:
            if isinstance(stmt, ast.AnnAssign):
                targets, value = [stmt.target], stmt.value
            elif isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.startswith("_WORKER_"):
                    is_dict = isinstance(value, ast.Dict) or (
                        isinstance(value, ast.Call) and _called(value) == "dict"
                    )
                    worker_globals.append((rel, t.id, is_dict))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _called(node)
                if name.endswith("pickle.loads"):
                    name = "pickle.loads"  # pickle / _pickle aliases
                if name in callers and not rel.startswith("plans/"):
                    callers[name].add(rel)
            if isinstance(node, ast.ExceptHandler):
                broad = node.type is None or (
                    isinstance(node.type, ast.Name)
                    and node.type.id in ("Exception", "BaseException")
                )
                if broad and all(isinstance(b, ast.Pass) for b in node.body):
                    swallowed.append(f"{rel}:{node.lineno}")

    caches = [(m, n) for m, n, is_dict in worker_globals if is_dict]
    assert caches == [(VERIFY, "_WORKER_VERIFY_CACHE")], caches
    assert {m for m, _n, _d in worker_globals} == {VERIFY}, worker_globals
    assert callers["compile_predicate_fields"] == {VERIFY}, callers
    assert callers["pickle.loads"] <= {VERIFY, BLOB_STORE}, callers
    assert VERIFY in callers["pickle.loads"], callers
    assert swallowed == [], swallowed

"""The package's environment surface: behavior is configured in code, and
only two EBP_* variables are read — the shuffle codec (a host setting) and
the join-verify lane selector the differential tests drive. Any new
``os.environ`` knob must be added here on purpose."""

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "elasticsearch_batch_percolator_spark"
)


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_keys(tree):
    """Key expressions of every environment read in ``tree``:
    ``os.environ[k]``, ``os.environ.get/pop/setdefault(k, ...)``,
    ``os.getenv(k, ...)`` and ``k in os.environ``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node, node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            reads = (_is_environ(f.value) and f.attr in ("get", "pop", "setdefault")) or (
                f.attr == "getenv"
            )
            if reads and node.args:
                yield node, node.args[0]
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            yield node, node.left


def _env_names() -> set[str]:
    names = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node, key in _env_keys(tree):
            assert isinstance(key, ast.Constant) and isinstance(key.value, str), (
                f"{path.relative_to(PKG.parent)}:{node.lineno}: "
                "environment key is not a string literal"
            )
            names.add(key.value)
    return names


def test_package_reads_only_two_ebp_env_vars():
    ebp = {n for n in _env_names() if n.startswith("EBP_")}
    assert ebp == {"EBP_IO_CODEC", "EBP_SIMPLE_JOIN_VERIFY"}
